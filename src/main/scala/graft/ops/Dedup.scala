package graft.ops

import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for LLM-corpus pipelines, on a spectrum from
  * exact to fuzzy. All are shuffle-on-key designs (hash/shingle/band/chunk
  * joins) — never all-pairs — so they scale linearly with corpus size ×
  * duplicate density rather than quadratically. Thresholded all-pairs
  * variants exist only as correctness oracles at fixture scale.
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Exact dedup by content hash after normalization (lowercase + first
    * `prefixChars` chars — catches retyped/re-wrapped copies with a
    * trailing edit, the dominant pattern in scraped corpora). One
    * hash-groupBy: map-side partial agg, no joins.
    * Output: (h, n_dups, canonical_id = min doc_id). */
  def exactGroups(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      prefixChars: Int = 80): DataFrame =
    docs
      .groupBy(md5(substring(lower(col(textCol)), 1, prefixChars)).as("h"))
      .agg(count(lit(1)).as("n_dups"), min(col(idCol)).as("canonical_id"))
      .where(col("n_dups") > 1)

  // ------------------------------------------------- n-gram Jaccard (exact)

  /** Exact n-gram-Jaccard duplicate pairs via inverted shingle index:
    * explode distinct shingles → ONE groupBy building a bounded posting
    * list per shingle (the native `bounded_id_list` aggregate: a shingle
    * in more than maxDf docs evaluates to NULL at O(maxDf) state — the
    * stop-shingle cut that kills boilerplate hot keys, now enforced
    * INSIDE the aggregation buffer instead of by a count+join round
    * trip) → intra-list ordered pairs → count common → Jaccard from
    * |A|+|B|−common. Two shuffles total (postings, pair counts) vs the
    * previous four (df count, keep join, self-join, pair counts); same
    * exact result. Pairs are undirected: id_a < id_b. */
  def jaccardPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, threshold: Double = 0.5, maxDf: Long = 1000): DataFrame = {
    require(maxDf >= 1 && maxDf <= Int.MaxValue,
      s"maxDf must be in [1, ${Int.MaxValue}], got $maxDf (the posting-list cap is an Int)")
    // shingle once, cache: the postings branch and the sizes branch would
    // otherwise re-tokenize + re-shingle the corpus.
    // CACHE LIFETIME: the cached frame backs the (lazy) returned DataFrame
    // and therefore cannot be unpersisted here; a looping caller wraps
    // the call and its consumers in a graft.CacheScope, which sweeps it.
    // With no scope open it is left to storage LRU or
    // `spark.catalog.clearCache()`. Same applies to the other sketch
    // operators in this file.
    val docSh = docs
      .select(col(idCol).cast("long").as("id"), shinglesFast(n)(tokens(col(textCol))).as("sh"))
      .cache()
    val sh = docSh.select(col("id"), explode(col("sh")).as("shingle"))
    val postings = sh.groupBy("shingle")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxDf.toInt, col("id")).as("ids"))
      .where(col("ids").isNotNull && size(col("ids")) >= 2)
    // pairs stream through TWO explodes — never a materialized
    // C(|ids|,2) pair array in one row (that would be O(maxDf²) memory
    // on exactly the hot keys maxDf exists to tame); per-row state here
    // stays O(maxDf)
    val common = postings
      .select(col("ids"), explode(col("ids")).as("id_a"))
      .select(col("id_a"),
        explode(filter(col("ids"), y => y > col("id_a"))).as("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"))
    val sizes = docSh.select(col("id"), size(col("sh")).as("sz"))
    common
      .join(sizes.as("sa"), col("id_a") === col("sa.id"))
      .join(sizes.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (col("common").cast("double") /
          (col("sa.sz") + col("sb.sz") - col("common"))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ------------------------------------------------- incremental novelty

  /** Daily-crawl novelty filter against a FROZEN history: keep only batch
    * documents whose normalized content hash ([[exactGroups]]'s
    * normalization — lowercase + first `prefixChars` chars) is definitely
    * absent from the history corpus. The history is compressed to a
    * [[org.apache.spark.util.sketch.BloomFilter]] (~1.2 GB per 10⁹ docs
    * at 1% fpp), so the 100 TB history never joins, never shuffles, and
    * never rebuilds per batch — build the sketch once, persist it beside
    * the corpus, and filter each day's crawl with a broadcast + pure
    * projection. Bloom membership has no false negatives: a true
    * duplicate is ALWAYS filtered (structural — gated per round); a
    * false positive wrongly discards a novel doc with probability fpp
    * (gated: novel recall ≥ 1 − 3·fpp). Complements
    * [[graft.streaming.DocsStream.dedupByContent]], which dedups WITHIN
    * the stream's watermark horizon — this operator is the unbounded
    * cross-day memory that horizon-bounded state cannot hold.
    * Output: the batch's surviving rows plus their content hash `h`. */
  def novelAgainst(history: DataFrame, batch: DataFrame,
      textCol: String = "text", prefixChars: Int = 80, fpp: Double = 1e-4,
      expectedItems: Option[Long] = None): DataFrame = {
    require(prefixChars >= 1, s"prefixChars >= 1, got $prefixChars")
    require(fpp > 0 && fpp < 1, s"fpp in (0,1), got $fpp")
    def key = md5(substring(lower(col(textCol)), 1, prefixChars))
    val bloomB = graft.functions.Sketches.stringBloom(
      history.where(col(textCol).isNotNull).select(key.as("h")),
      "h", fpp, expectedItems)
    val mightContain = graft.functions.Sketches.mightContainString(bloomB)
    batch.where(col(textCol).isNotNull)
      .withColumn("h", key)
      .where(!mightContain(col("h")))
  }

  // ------------------------------------------------- cross-source overlap

  /** Exact cross-source shingle-overlap census: for every source pair,
    * the distinct-shingle intersection size and Jaccard — the "how much
    * does crawl B re-serve crawl A" question asked before mixing sources
    * into one training corpus. Distinct (source, shingle) pairs feed an
    * inverted shingle join: a shingle living in k sources contributes
    * C(k,2) pair rows, bounded by |sources|² per shingle — never a doc
    * pair explosion. The `distinct` on (source, shingle) is the wide
    * shuffle that makes this the ORACLE path; [[sourceOverlapMinhashVs]]
    * is the scale twin whose per-source state never grows.
    *
    * CACHE LIFETIME: the shingle frame backs all three consumers of the
    * (lazy) result — released by the caller's [[graft.CacheScope]], or
    * with none open by storage LRU / `clearCache()`, same contract as
    * the other sketch operators in this file. */
  def sourceOverlap(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source", n: Int = 3): DataFrame = {
    val sh = docs
      .select(col(srcCol).as("src"),
        explode(shinglesFast(n)(tokens(col(textCol)))).as("shingle"))
      .distinct()
      .cache()
    val sizes = sh.groupBy("src").agg(count(lit(1)).as("sz"))
    val a = sh.select(col("src").as("src_a"), col("shingle"))
    val b = sh.select(col("src").as("src_b"), col("shingle"))
    a.join(b, "shingle").where(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("common"))
      .join(sizes.select(col("src").as("src_a"), col("sz").as("sz_a")), "src_a")
      .join(sizes.select(col("src").as("src_b"), col("sz").as("sz_b")), "src_b")
      .select(col("src_a"), col("src_b"), col("common"),
        (col("common").cast("double") /
          (col("sz_a") + col("sz_b") - col("common"))).as("jaccard"))
  }

  /** MinHash twin of [[sourceOverlap]] — the 100 TB path. The signature
    * of a SOURCE (not a document) is the element-wise min of the
    * universal hashes over every shingle the source contains, which is
    * exactly a `numHashes`-column primitive min aggregate: one codegen'd
    * projection computes h_i per shingle row, map-side partials collapse
    * each partition to one row per source, and the per-source state is
    * `numHashes` longs at ANY corpus size — no distinct shuffle, no
    * per-(source, shingle) materialization. Pairwise comparison runs on
    * the aggregated |sources|-row frame, the one place a cross join is
    * the bounded-by-catalog right plan. Estimate: matching-component
    * fraction; std err ≈ 1/(2·√numHashes) (0.044 at 128). */
  def sourceOverlapMinhashVs(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source", n: Int = 3, numHashes: Int = 128,
      seed: Long = 42): DataFrame = {
    require(numHashes >= 1 && numHashes <= 1024,
      s"numHashes must be in [1, 1024], got $numHashes (the signature is a wide row)")
    // Per-DOC signature first (the tight-loop minhashSig primitive the
    // LSH path already uses: |shingles|·numHashes multiply-mods per doc
    // with no intermediate row traffic), then the source signature as an
    // element-wise min over doc signatures — posexplode to (src, i, v)
    // and a primitive min per (src, i), whose map-side partials collapse
    // each partition to ≤ numHashes rows per source. The rejected first
    // cut projected numHashes COLUMNS per shingle row before aggregating:
    // same flops, but it materialized a 128-column UnsafeRow per shingle
    // and measured 19.7 s on the 100k-doc probe where this shape runs
    // 10.6 s (exact census: 12.6 s). Probe-scale caveat in SCALING.md:
    // on a clone-heavy fixture the EXACT census pulls ahead at 100k
    // (its distinct prunes repeated shingles before the join; the
    // sketch pays full signature work per clone doc) — the sketch's
    // claim is the bounded per-source state and the removed corpus-wide
    // distinct shuffle, which bind at real vocabulary sizes, not a
    // constant-factor win at probe scale.
    val sigs = sourceSignatures(docs, textCol, srcCol, n, numHashes, seed)
    val a = sigs.select(col("src").as("src_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("src").as("src_b"), col("sig").as("sig_b"))
    a.crossJoin(b).where(col("src_a") < col("src_b"))
      .select(col("src_a"), col("src_b"),
        (aggregate(
          zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)),
          lit(0), (acc, m) => acc + m).cast("double") / numHashes)
          .as("jaccard_est"))
  }

  // ------------------------------------------------------------- MinHash+LSH

  /** Seeded universal-hash parameters for the MinHash permutations. */
  private[ops] def hashParams(numHashes: Int, seed: Long): Array[(Long, Long)] = {
    val rng = new java.util.Random(seed)
    Array.fill(numHashes)(
      (math.abs(rng.nextLong()) % (HashMod - 1) + 1, math.abs(rng.nextLong()) % HashMod))
  }

  /** Per-SOURCE MinHash signature frame: (src, sig ARRAY<LONG>[numHashes])
    * — element-wise min of the universal-hash family over every shingle
    * the source has ever contributed (the bounded-state per-source
    * sketch [[sourceOverlapMinhashVs]] compares pairwise). Exposed
    * because the signature is a MERGEABLE summary — see
    * [[mergeSourceSignatures]]. */
  def sourceSignatures(docs: DataFrame, textCol: String = "text",
      srcCol: String = "source", n: Int = 3, numHashes: Int = 128,
      seed: Long = 42): DataFrame = {
    val params = hashParams(numHashes, seed)
    val sigUdf = udf { (hs: Seq[Long]) => minhashSig(hs.toArray, params) }
    docs
      .where(col(textCol).isNotNull)
      .select(col(srcCol).as("src"),
        sigUdf(transform(shinglesFast(n)(tokens(col(textCol))),
          s => pmod(xxhash64(s), lit(HashMod)))).as("sig"))
      .select(col("src"), posexplode(col("sig")).as(Seq("i", "v")))
      .groupBy("src", "i").agg(min(col("v")).as("v"))
      .groupBy("src")
      .agg(array_sort(collect_list(struct(col("i"), col("v")))).as("iv"))
      .select(col("src"), transform(col("iv"), x => x.getField("v")).as("sig"))
  }

  /** Merge two per-source signature frames — the INCREMENTAL maintenance
    * step a daily pipeline runs: sig(history ∪ day) is the element-wise
    * min of sig(history) and sig(day), EXACTLY (min is associative,
    * commutative, idempotent), so yesterday's persisted signatures plus
    * one pass over today's documents replace any recomputation over the
    * full history. A source present on only one side keeps its
    * signature unchanged. One full-outer key join over |sources| rows —
    * catalog-sized, never corpus-sized. */
  def mergeSourceSignatures(a: DataFrame, b: DataFrame): DataFrame = {
    val l = a.select(col("src"), col("sig").as("_sa"))
    val r = b.select(col("src"), col("sig").as("_sb"))
    l.join(r, Seq("src"), "full_outer")
      .select(col("src"),
        when(col("_sa").isNull, col("_sb"))
          .when(col("_sb").isNull, col("_sa"))
          // signatures from different hash families (numHashes/seed)
          // must never merge silently: zip_with null-pads the shorter
          // array and least() skips nulls, which would fabricate a
          // plausible-looking garbage signature — fail the job instead
          .when(size(col("_sa")) =!= size(col("_sb")),
            raise_error(concat(lit("mergeSourceSignatures: signature width mismatch for src="),
              col("src").cast("string"), lit(" ("), size(col("_sa")).cast("string"),
              lit(" vs "), size(col("_sb")).cast("string"),
              lit(") — both sides must use the same numHashes/seed"))))
          .otherwise(zip_with(col("_sa"), col("_sb"), (x, y) => least(x, y)))
          .as("sig"))
  }

  /** MinHash signature from a doc's shingle-hash set:
    * sig_p = min_x (a_p·x + b_p mod 2^31−1). Primitive-array loop —
    * the per-doc cost is |shingles|·numHashes multiply-mods. */
  private[ops] def minhashSig(hs: Array[Long], params: Array[(Long, Long)]): Array[Long] =
    params.map { case (a, b) =>
      var m = Long.MaxValue
      var i = 0
      while (i < hs.length) {
        val v = (a * hs(i) + b) % HashMod
        if (v < m) m = v
        i += 1
      }
      if (m == Long.MaxValue) 0L else m
    }

  /** MinHash+LSH near-duplicate pairs: shingle → 60-bit hash → `numHashes`
    * minhash signature → `bands` banded buckets → bucket self-join for
    * candidates → exact Jaccard verification (never trust the sketch
    * alone). Probability a pair with Jaccard s collides in ≥1 band:
    * 1 − (1 − s^(numHashes/bands))^bands — at (64, 16): s=0.5 → 0.96,
    * s=0.3 → 0.55.  Only candidate pairs are verified, so the cost is
    * duplicate-density-bound, not O(n²). */
  def minhashLshPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5, seed: Long = 42): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val rows = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigUdf = udf { (hs: Seq[Long]) =>
      val sig = minhashSig(hs.toArray, params)
      (0 until bands).map { b =>
        var acc = 1125899906842597L
        var r = 0
        while (r < rows) { acc = acc * 31 + sig(b * rows + r); r += 1 }
        (b, acc)
      }
    }

    // xxhash64 (native, one codegen'd pass) for the sketch base hash:
    // minhash needs only a deterministic in-engine hash, not the
    // cross-engine md5 used by oracle-checked operators. Band signatures
    // go INTO the cached frame — the bucket self-join consumes bandsDF on
    // both sides, which would otherwise run the signature UDF twice.
    val withShingles = docs
      .select(col(idCol).as("id"), shinglesFast(n)(tokens(col(textCol))).as("sh"))
      .withColumn("hs", transform(col("sh"), s => pmod(xxhash64(s), lit(HashMod))))
      .withColumn("bands", sigUdf(col("hs")))
      .cache()

    val bandsDF = withShingles
      .select(col("id"), explode(col("bands")).as("band"))
      .select(col("id"), col("band._1").as("band_id"), col("band._2").as("band_hash"))

    val cands = bandsDF.as("a")
      .join(bandsDF.as("b"), Seq("band_id", "band_hash"))
      .where(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val sets = withShingles.select(col("id"), col("sh"))
    cands
      .join(sets.as("sa"), col("id_a") === col("sa.id"))
      .join(sets.as("sb"), col("id_b") === col("sb.id"))
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sa.sh"), col("sb.sh"))).cast("double") /
          size(array_union(col("sa.sh"), col("sb.sh")))).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  // ----------------------------------------------------------------- SimHash

  /** 60-bit SimHash of the token stream (bit-vote over per-token
    * xxhash64). Near-dup pairs = Hamming distance ≤ maxHamming, found by
    * pigeonhole banding: split 60 bits into maxHamming+1 chunks — any
    * pair within distance maxHamming shares at least one exact chunk, so
    * an equi-join on (chunk_id, chunk_value) finds all of them. */
  def simhash(hs: Seq[Long]): Long = {
    val votes = new Array[Int](60)
    var i = 0
    while (i < hs.length) {
      val h = hs(i)
      var b = 0
      while (b < 60) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 60) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  def simhashPairs(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      maxHamming: Int = 3): DataFrame = {
    val simUdf = udf { (hs: Seq[Long]) => simhash(hs) }
    val sigs = docs.select(
      col(idCol).as("id"),
      simUdf(transform(tokens(col(textCol)), t => pmod(xxhash64(t), lit(1L << 60)))).as("sim"))
    hammingPairs(sigs, maxHamming)
  }

  /** Pigeonhole Hamming join over `bits`-bit signatures — the banding
    * machinery shared by [[simhashPairs]] (60-bit text SimHash) and the
    * multimodal pHash near-dup family (full 64-bit perceptual hashes).
    * `sigs` must carry (id: Long, sim: Long). Splitting into
    * maxHamming+1 disjoint chunks guarantees any pair within the
    * Hamming budget shares at least one exact chunk, so candidacy is an
    * EQUI-join on (chunk_id, chunk_val) — never a cartesian — and the
    * final `bit_count` verify is exact over the full signature. When
    * `bits` doesn't divide evenly the LAST chunk absorbs the remainder
    * (pigeonhole only needs disjoint cover); shifts are UNSIGNED so a
    * 64-bit signature with the sign bit set chunks correctly. */
  /** Pigeonhole band chunk value: bits [chunk_id·bitsPer,
    * (chunk_id+1)·bitsPer) of `sigCol`, the LAST chunk running to the
    * top bit — the ONE definition of the banding key shared by every
    * Hamming-candidacy site (this self-join, the media signature-
    * overlap joins, frozen-history novelty, the signature store's
    * cross joins); the streaming index's driver-side bucket key
    * (`MediaStream.PhashBandIndex.key`) is its JVM twin. Two
    * signatures within maxHamming = chunks−1 bits MUST agree on at
    * least one chunk (pigeonhole over `chunks` disjoint bit ranges) —
    * BandingPropSpec pins both the guarantee and SQL ≡ JVM on seeded
    * random signatures. */
  private[graft] def bandChunkVal(sigCol: String, chunkIdCol: String,
      chunks: Int, bitsPer: Int): Column =
    expr(s"""CASE WHEN $chunkIdCol = ${chunks - 1}
             THEN shiftrightunsigned($sigCol, ${(chunks - 1) * bitsPer})
             ELSE pmod(shiftrightunsigned($sigCol, $chunkIdCol * $bitsPer), ${1L << bitsPer})
             END""")

  /** Candidate signature-VALUE pairs within the Hamming budget — the
    * bounded core of every banding consumer. Input: a frame of DISTINCT
    * `sim` values. Output: (sim_a, sim_b, hamming) with sim_a < sim_b
    * and hamming in [1, maxHamming] — identical values (Hamming 0) are
    * deliberately NOT this function's job; callers pair them through an
    * exact latch-free path (signature classes / a sim equi-join), so a
    * true duplicate can never be lost to the bucket cap below.
    *
    * Shape: chunk-explode → ONE groupBy building a bounded posting list
    * per (chunk_id, chunk_val) bucket ([[org.apache.spark.sql.graft
    * .BoundedIdList]] over the sim values — the same in-buffer overflow
    * latch as the Jaccard path's stop-shingle cut) → intra-list ordered
    * pairs via two streaming explodes (never a materialized C(n,2)
    * array) → exact bit_count verify. Per-bucket state is O(maxBucket);
    * per-bucket pair mass is ≤ C(maxBucket, 2).
    *
    * OVER-CAP SEMANTICS (the documented trade the cap buys): a bucket
    * holding more than `maxBucket` DISTINCT signature values evaluates
    * to NULL and is excluded from candidacy — a pair is then missed
    * only if EVERY chunk it agrees on is over-cap. Natural populations
    * never get there at fixture scale (a bucket collects ~n_distinct /
    * 2^bitsPer values); the cap exists for the adversarial/degenerate
    * one — crawl-scale masses of near-constant signatures (solid-color
    * thumbnails, silence-padded audio), where the un-capped join went
    * O(bucket²) on exactly the content `low_information` flagging exists
    * to pre-filter. Identical-signature masses are immune: they collapse
    * to ONE distinct value here and pair through the callers' exact
    * path. */
  private[graft] def nearSimPairsSelf(sims: DataFrame, maxHamming: Int,
      bits: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 30, s"maxHamming in [1,30), got $maxHamming")
    require(bits >= maxHamming + 1 && bits <= 64, s"bits in [maxHamming+1, 64], got $bits")
    require(maxBucket >= 2, s"maxBucket >= 2, got $maxBucket")
    val chunks = maxHamming + 1
    val bitsPer = bits / chunks
    sims.select(col("sim"),
        explode(sequence(lit(0), lit(chunks - 1))).as("chunk_id"))
      .withColumn("chunk_val", bandChunkVal("sim", "chunk_id", chunks, bitsPer))
      .groupBy("chunk_id", "chunk_val")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxBucket, col("sim")).as("sims"))
      .where(col("sims").isNotNull && size(col("sims")) >= 2)
      .select(col("sims"), explode(col("sims")).as("sim_a"))
      .select(col("sim_a"),
        explode(filter(col("sims"), y => y > col("sim_a"))).as("sim_b"))
      .select(col("sim_a"), col("sim_b"),
        bit_count(col("sim_a").bitwiseXOR(col("sim_b"))).as("hamming"))
      .where(col("hamming") <= maxHamming)
      // dedupe (a pair agreeing on several chunks surfaces once) AFTER
      // the exact verify: bit_count is a cheap streamed expression and
      // most bucket cohabitants fail it, so the distinct's shuffle sees
      // the small verified pair set instead of the full candidate mass
      .distinct()
  }

  /** Cross-frame twin of [[nearSimPairsSelf]] for incoming-vs-history
    * probes, hot-bucket-SAFE: every `left` row — carrying a `sim`
    * column plus ANY payload/ownership columns — meets the right
    * side's DISTINCT sims within `maxHamming` bits. Output: the left
    * columns plus (sim_r, hamming), hamming in [0, maxHamming]; a pair
    * agreeing on several chunks may surface once PER agreeing chunk,
    * so callers dedupe at their own aggregation key.
    *
    * Why left is ROWS and right is SIMS: on the incoming×history paths
    * this primitive serves ([[graft.multimodal.SignatureStore
    * .matchedIds]]), the left side is a decode-bearing mapPartitions
    * builder that must be consumed exactly ONCE per batch (the
    * `steady_batch_history_decodes` pin) — so its ownership columns
    * travel THROUGH the candidacy join instead of being re-joined from
    * a second pass, and this function consumes `left` exactly once.
    * The history side is a payload-free signature scan, cheap to read
    * again for the ownership re-join the caller does on `sim_r`.
    *
    * Index shape: ONE pass over `rightSims` explodes maxHamming+2
    * chunk rows per sim — the pigeonhole bands PLUS a sentinel ident
    * chunk (chunk_id −1, chunk_val = the full signature). The groupBy
    * builds a bounded posting list ([[org.apache.spark.sql.graft
    * .BoundedIdList]], cap `maxBucket`) per (chunk_id, chunk_val)
    * bucket. A sentinel bucket holds exactly ONE distinct sim by
    * construction, so identical signatures match latch-free no matter
    * how hot their band buckets are — a true Hamming-0 match can never
    * be lost to the cap. Band buckets exceeding `maxBucket` DISTINCT
    * sims evaluate to NULL and drop out of near candidacy (the same
    * over-cap semantics as [[nearSimPairsSelf]]: a near pair is missed
    * only if EVERY chunk it agrees on is over-cap). Per left row the
    * candidate mass is ≤ (maxHamming+1)·maxBucket + 1 — linear in
    * |left| whatever the bucket heat, which is exactly the bound an
    * O(batch)-incoming vs O(corpus)-history probe needs. */
  private[graft] def nearSimPairsCross(left: DataFrame, rightSims: DataFrame,
      maxHamming: Int, bits: Int, maxBucket: Int): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 30, s"maxHamming in [1,30), got $maxHamming")
    require(bits >= maxHamming + 1 && bits <= 64, s"bits in [maxHamming+1, 64], got $bits")
    require(maxBucket >= 2, s"maxBucket >= 2, got $maxBucket")
    val chunks = maxHamming + 1
    val bitsPer = bits / chunks
    def keyed(df: DataFrame): DataFrame = df
      .withColumn("chunk_id", explode(sequence(lit(-1), lit(chunks - 1))))
      .withColumn("chunk_val", when(col("chunk_id") === -1, col("sim"))
        .otherwise(bandChunkVal("sim", "chunk_id", chunks, bitsPer)))
    // the distinct is ENFORCED, not assumed: BoundedIdList latches on
    // ROWS, so duplicate right-side rows (a store scan with retried
    // appends) would void the sentinel's latch-free guarantee — and for
    // an already-distinct input RemoveRedundantAggregates makes this
    // free
    val idx = keyed(rightSims.select(col("sim")).distinct())
      .groupBy("chunk_id", "chunk_val")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxBucket, col("sim")).as("_rs"))
      .where(col("_rs").isNotNull)
    keyed(left)
      .join(idx, Seq("chunk_id", "chunk_val"))
      .withColumn("sim_r", explode(col("_rs")))
      .withColumn("hamming", bit_count(col("sim").bitwiseXOR(col("sim_r"))))
      .where(col("hamming") <= maxHamming)
      .drop("chunk_id", "chunk_val", "_rs")
  }

  /** Duplicate id pairs within `maxHamming` bits, hot-bucket-SAFE. Two
    * layers, each with its own bound (the r13 verdict's one remaining
    * quadratic hazard was exactly this operator's naive bucket
    * self-join):
    *
    *  1. IDENTICAL signatures collapse to (sim, rep = min id, ids)
    *     CLASSES before anything is banded — a Hamming-0 group is an
    *     exact duplicate class by definition, so a planted mass of 10⁴
    *     identical signatures becomes ONE banded row instead of 10⁴
    *     rows exploding O(10⁸) in a bucket. Classes up to
    *     `maxClassExpand` members emit every within-class pair
    *     (byte-identical to the historical output at fixture scale);
    *     larger classes emit the STAR on their min-id representative —
    *     O(n) rows carrying the same connected-component information
    *     ([[canonicalize]] elects identical canonicals either way), and
    *     the representative alone carries the class into cross-class
    *     pairs. That star is the documented over-cap semantic: pair
    *     ENUMERATION inside a giant exact-duplicate class is O(n²)
    *     output with zero information beyond membership.
    *  2. Cross-class candidacy runs over DISTINCT signature values via
    *     [[nearSimPairsSelf]], whose per-bucket bounded posting latch
    *     (`maxBucket`) caps the one remaining blow-up population —
    *     huge masses of DISTINCT near-constant signatures.
    *
    * Output: (id_a, id_b, hamming), id_a < id_b, distinct. */
  def hammingPairs(sigs0: DataFrame, maxHamming: Int, bits: Int = 60,
      maxBucket: Int = 4096, maxClassExpand: Int = 64): DataFrame = {
    require(maxHamming >= 1 && maxHamming < 30, s"maxHamming in [1,30), got $maxHamming")
    require(bits >= maxHamming + 1 && bits <= 64, s"bits in [maxHamming+1, 64], got $bits")
    require(maxClassExpand >= 2, s"maxClassExpand >= 2, got $maxClassExpand")
    // cached: the class frame feeds within-class pairs, the distinct-sim
    // candidacy, and both sides of the member expansion; sigs feeds the
    // class build plus the over-cap star join. Cache lifetime note on
    // jaccardPairs applies.
    val sigs = sigs0.select(col("id").cast("long").as("id"), col("sim")).cache()
    val classes = sigs.groupBy("sim")
      .agg(min(col("id")).as("rep"), count(lit(1)).as("csz"),
        org.apache.spark.sql.graft.BoundedIdList
          .boundedList(maxClassExpand, col("id")).as("ids"))
      .cache()
    val withinSmall = classes.where(col("csz") >= 2 && col("ids").isNotNull)
      .select(col("ids"), explode(col("ids")).as("id_a"))
      .select(col("id_a"),
        explode(filter(col("ids"), y => y > col("id_a"))).as("id_b"))
    val withinBig = sigs
      .join(classes.where(col("ids").isNull).select(col("sim"), col("rep")), Seq("sim"))
      .where(col("id") =!= col("rep"))
      .select(col("rep").as("id_a"), col("id").as("id_b"))
    val within = withinSmall.unionByName(withinBig)
      .select(col("id_a"), col("id_b"), lit(0).cast("int").as("hamming"))
    // members of an over-cap class are represented by the min-id rep
    val members = classes.select(col("sim"),
      coalesce(col("ids"), array(col("rep"))).as("mem"))
    val cross = nearSimPairsSelf(classes.select("sim"), maxHamming, bits, maxBucket)
      .join(members.select(col("sim").as("sim_a"), col("mem").as("ma")), Seq("sim_a"))
      .join(members.select(col("sim").as("sim_b"), col("mem").as("mb")), Seq("sim_b"))
      .select(explode(col("ma")).as("a"), col("mb"), col("hamming"))
      .select(col("a"), explode(col("mb")).as("b"), col("hamming"))
      .where(col("a") =!= col("b")) // an id carrying two near sims must not self-pair
      .select(least(col("a"), col("b")).as("id_a"),
        greatest(col("a"), col("b")).as("id_b"), col("hamming"))
    within.unionByName(cross).distinct()
  }

  // ------------------------------------------------- canonical assignment

  /** Final dedup stage: group duplicate PAIRS into connected components
    * and elect min-id canonicals — "which copy survives".
    *
    * Hybrid by measured edge count (same cutover philosophy as the IVF
    * quantizer's bounded training sample):
    *
    *  - small graphs (≤ `smallGraphEdges` directed edges — the count is
    *    already materialized for the cache) run driver-side union-find:
    *    exact, one collect, microseconds. The duplicate graph is usually
    *    TINY relative to the corpus (it holds only duplicate pairs), and
    *    the distributed loop's per-round scheduling overhead dominated
    *    fixture-scale timings (~0.8 s/round for a <1000-edge graph).
    *  - larger graphs run iterative min-label propagation (each round:
    *    every vertex takes the min label in its closed neighborhood; one
    *    equi-join + groupBy-min per round, O(diameter) rounds, fixpoint
    *    via the Σlabel probe) — all shuffle-on-key, no driver state. */
  /** Rounds the last [[canonicalize]] call's distributed branch took to
    * converge (0 when the driver union-find branch ran). Instrumentation
    * for the opt-in scale probe (ProfileSpec), not operator contract. */
  @volatile private[graft] var lastPropagationRounds: Int = 0

  def canonicalize(
      pairs: DataFrame, maxRounds: Int = 20,
      smallGraphEdges: Long = 2000000L): DataFrame = {
    val spark = pairs.sparkSession
    // cache the PAIR frame, not just the undirected-edge union: the two
    // union branches are separate Catalyst subtrees, so an uncached
    // `pairs` (typically the full jaccardPairs postings join) would be
    // evaluated once per branch — measured 2× the detector's cost on
    // every canonicalize caller (r8; corpus_leakage_safe_split was the
    // sweep's slowest query mostly from this double evaluation)
    val p = pairs.select(col("id_a"), col("id_b")).cache()
    val edges = p.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(p.select(col("id_b").as("src"), col("id_a").as("dst")))
      .cache()
    val nEdges = edges.count()
    p.unpersist()
    lastPropagationRounds = 0
    if (nEdges <= smallGraphEdges) {
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent(r) != r) r = parent(r)
        var c = x
        while (parent(c) != r) { val nxt = parent(c); parent(c) = r; c = nxt }
        r
      }
      edges.collect().foreach { r =>
        val a = r.getLong(0)
        val b = r.getLong(1)
        parent.getOrElseUpdate(a, a)
        parent.getOrElseUpdate(b, b)
        val ra = find(a)
        val rb = find(b)
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      // min-id root: union-by-min above guarantees the root IS the min id
      val rows = parent.keys.toSeq.sorted.map(v => (v, find(v)))
      edges.unpersist()
      import spark.implicits._
      return rows.toDF("id", "canonical_id")
    }
    // Iteration state lives in a PLAIN CACHED RDD of (id, label), and each
    // round's frame is re-rooted at it: chaining DataFrames across rounds
    // grows the Catalyst plan by one union+join per round, and at ~12
    // rounds merely RENDERING the plan string OOMed the driver (caught by
    // the ProfileSpec scale probe at 1.2M pairs) — the §7.4.3 lineage-
    // growth hazard. The previous round's RDD is unpersisted eagerly;
    // relying on GC-driven ContextCleaner would leak O(rounds·V) storage
    // at corpus scale.
    val session = spark
    import session.implicits._
    var labelsRdd = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .as[(Long, Long)].rdd.cache()
    // convergence check: labels only ever decrease, so an unchanged
    // Σlabel means a fixpoint — one cheap action per round on the cached
    // state instead of a join-based diff (halves the per-round job count)
    var prevSum = Long.MaxValue
    var rounds = 0
    var converged = false
    while (rounds < maxRounds && !converged) {
      val labels = labelsRdd.toDF("id", "label")
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
      // NOTE: pointer doubling (label ← label-of-label self-join) was
      // measured here and REJECTED: it doubles per-round shuffle work for
      // a round-count win that only materializes on long chains, and
      // duplicate graphs are overwhelmingly small-diameter cliques
      // (sf0.1: 9.6 s with doubling vs 6.1 s without)
      val nextRdd = labels
        .union(viaNeighbors)
        .groupBy("id")
        .agg(min(col("label")).as("label"))
        .as[(Long, Long)].rdd.cache()
      val sumLabel = nextRdd.map(_._2).fold(0L)(_ + _) // materializes the cache
      labelsRdd.unpersist()
      labelsRdd = nextRdd
      converged = sumLabel == prevSum
      prevSum = sumLabel
      rounds += 1
    }
    lastPropagationRounds = rounds
    edges.unpersist()
    labelsRdd.toDF("id", "canonical_id")
  }

  // ------------------------------------------------- duplicated substring spans

  /** Cross-document duplicated-substring detection (the substring-dedup
    * family of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better", 2022): slide a `windowChars`-character window at
    * `stride` over every document, key windows by content hash, and flag
    * the windows whose exact content occurs in ≥2 distinct documents.
    * Catches verbatim boilerplate (license headers, navboxes, quoted
    * passages) that document-level Jaccard misses because the rest of the
    * two documents differs.
    *
    * Returns per-document span stats: (doc_id, n_windows, n_dup_windows,
    * dup_frac). Documents shorter than one window are excluded (they have
    * no spans to judge).
    *
    * Scale shape: one projection explodes each doc into len/stride
    * fixed-width hashes (data growth ≈ windowChars/stride ×, tunable);
    * then two key-partitioned aggregations and one equi-join back on the
    * hash. No all-pairs anywhere. The duplicated-hash side is NOT
    * broadcast-hinted: boilerplate is an unbounded fraction of a web
    * corpus, so the planner must stay free to pick a shuffle join from
    * its size estimate (same reasoning as [[retain]]'s survivor
    * anti-join). */
  def dupSpans(docs: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      windowChars: Int = 40, stride: Int = 10): DataFrame = {
    require(windowChars >= 1 && stride >= 1,
      s"windowChars and stride must be positive, got ($windowChars, $stride)")
    // window once, cache: the per-doc totals, the duplicated-hash set and
    // the hit counts all consume this frame (cache-lifetime note in
    // jaccardPairs applies). md5 keys keep shuffle rows fixed-width
    // instead of carrying raw window text.
    val wins = docs
      .where(col(textCol).isNotNull && length(col(textCol)) >= windowChars)
      .select(col(idCol).cast("long").as("id"),
        explode(sequence(lit(1), length(col(textCol)) - (windowChars - 1),
          lit(stride))).as("p"),
        col(textCol).as("t"))
      .select(col("id"), md5(col("t").substr(col("p"), lit(windowChars))).as("h"))
      .cache()
    // ≥2 DISTINCT docs: a window repeated only within one document is
    // intra-doc repetition (repetitionScore territory), not a cross-doc
    // duplicate
    val dupH = wins.select("id", "h").distinct()
      .groupBy("h").agg(count(lit(1)).as("ndocs"))
      .where(col("ndocs") >= 2)
      .select("h")
    val tot = wins.groupBy("id").agg(count(lit(1)).as("n_windows"))
    val hit = wins.join(dupH, "h")
      .groupBy("id").agg(count(lit(1)).as("n_dup_windows"))
    tot.join(hit, Seq("id"), "left")
      .select(col("id").as(idCol), col("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        (coalesce(col("n_dup_windows"), lit(0L)).cast("double") /
          col("n_windows")).as("dup_frac"))
  }

  /** End-to-end dedup retention: given the duplicate-pair relation, keep
    * exactly one representative per duplicate cluster — the
    * highest-`quality` member (default: the longest document,
    * `n_chars`), ties to the smallest id — plus every unclustered
    * document. Passing a model or heuristic quality score is the
    * FineWeb recipe: among near-duplicates, keep the best-scored copy,
    * not the longest. `quality` is evaluated against `docs`' columns.
    * Returns (doc_id, cluster_size); cluster_size = 1 for singletons.
    *
    * Scale shape: the cluster relation covers only documents that HAVE a
    * near-duplicate — tiny next to the corpus — so both the
    * representative pick (a window over per-cluster groups) and the
    * survivor anti-join run against a small, broadcastable side; the
    * corpus itself is scanned once. This is the pass that turns the pair
    * detectors into an actual retained training corpus. */
  def retain(docs: DataFrame, pairs: DataFrame,
      quality: Column = col("n_chars")): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = canonicalize(pairs) // (id, canonical_id), dup members only
    val sized = clusters.groupBy("canonical_id")
      .agg(count(lit(1)).as("cluster_size"))
    val w = Window.partitionBy(col("canonical_id"))
      .orderBy(col("_q").desc, col("id").asc)
    val reps = clusters
      .join(docs.select(col("doc_id"), quality.as("_q")), col("id") === col("doc_id"))
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .join(sized, "canonical_id")
      .select(col("doc_id"), col("cluster_size"))
    // no broadcast hint: clusters holds every vertex of the duplicate
    // graph, which at web-scale near-dup rates is an unbounded fraction
    // of the corpus — let the planner pick broadcast vs shuffle from its
    // size estimate rather than forcing driver-memory risk
    // barrier: a union-shaped corpus would otherwise pull the whole
    // cluster pipeline (shingling, banding, connected components) into
    // every union branch via anti-join pushdown — see
    // graft.PlanGuards.survivorsBarrier
    val singletons = graft.PlanGuards.survivorsBarrier(docs, "retain_docs")
      .join(clusters, docs("doc_id") === clusters("id"), "left_anti")
      .select(col("doc_id"), lit(1L).as("cluster_size"))
    singletons.union(reps)
  }
}
