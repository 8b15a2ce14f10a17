package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.TextFunctions.{tokens, shinglesFast, HashMod}

/** Persistent incremental MinHash-band index — the NEAR-dup twin of
  * [[NoveltyBloomStore]] and the text analog of the media family's
  * [[graft.multimodal.SignatureStore]]: every ingested document's
  * MinHash signature and LSH band keys are extracted ONCE, at ingest,
  * into compact parquet tables, and every later novelty probe joins
  * band keys instead of re-shingling history text.
  *
  * Why it exists: the exact-content bloom store catches verbatim
  * re-crawls only — a lightly-edited re-crawl (template drift, ad
  * rotation, a fixed typo) hashes to a fresh key and sails straight
  * through daily ingest. This store catches the same Jaccard-near
  * duplicates [[Dedup.minhashLshPairs]] finds in batch, against a
  * frozen history the probe never re-reads.
  *
  * Layout under `dir`:
  *  - `params.properties` — (n, numHashes, bands, seed). A probe or
  *    append against a store built with a different hash family would
  *    produce plausible-looking garbage; every entry point re-reads
  *    and trusts only this file (the same guard as
  *    [[Dedup.mergeSourceSignatures]]' width check).
  *  - `sigs/` — (doc_id, sig ARRAY<LONG>[numHashes]) parquet: the
  *    verify payload, 8·numHashes bytes per doc (the "thumbnail" of
  *    the text family).
  *  - `bands/` — (doc_id, band_hash) parquet PARTITIONED BY band_id:
  *    the probe index. band_id −1 is the SENTINEL whole-signature
  *    hash (see [[noveltyAgainstStore]]); 0..bands−1 are the LSH band
  *    keys, byte-identical to [[Dedup.minhashLshPairs]]' banding.
  *
  * Maintenance mirrors the signature store: [[append]] is one pass
  * over the new batch (O(batch), never O(history)); a retried append
  * leaves duplicate rows that [[compact]] collapses; [[deleteDocs]]
  * removes takedown victims from both tables via staged rewrite.
  */
object MinHashBandStore {

  /** Hash-family parameters; defaults match [[Dedup.minhashLshPairs]]
    * so store decisions can be gated against the self-join form. */
  final case class Params(n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L) {
    require(numHashes % bands == 0, "bands must divide numHashes")
    def rows: Int = numHashes / bands
  }

  /** One pass over `docs`: (doc_id, sig, bands) where `bands` holds
    * the sentinel (−1, whole-sig hash) plus the LSH band keys. The
    * expensive shingle→minhash work runs in ONE struct-returning UDF
    * with a single downstream reference per consumer column —
    * CollapseProject's isCheap guard keeps Catalyst from cloning it
    * (the decode-twice pitfall pinned in SCALING.md). */
  // ONE UDF instance per Params, not per call: ScalaUDF equality (and
  // so plan canonicalization, CacheManager lookup, and
  // Dataset.unpersist matching) is by function REFERENCE — a fresh
  // instance per call makes every probe's projection a "different"
  // plan, so repeated noveltyAgainstStore calls (bench reps, a daily
  // driver loop) would each pin a NEW cache entry forever. Memoized,
  // the same (store params, batch) pair canonicalizes to one plan and
  // .cache() reuses the single existing entry.
  private val sigBandsUdfs = new java.util.concurrent.ConcurrentHashMap[
    Params, org.apache.spark.sql.expressions.UserDefinedFunction]()

  private def sigBandsUdf(p: Params) = sigBandsUdfs.computeIfAbsent(p, { p =>
    val params = Dedup.hashParams(p.numHashes, p.seed)
    val rows = p.rows
    val nBands = p.bands
    udf { (hs: Seq[Long]) =>
      val sig = Dedup.minhashSig(hs.toArray, params)
      def acc(from: Int, until: Int): Long = {
        var a = 1125899906842597L
        var i = from
        while (i < until) { a = a * 31 + sig(i); i += 1 }
        a
      }
      val bands = (-1, acc(0, sig.length)) +:
        (0 until nBands).map(b => (b, acc(b * rows, (b + 1) * rows)))
      (sig, bands)
    }
  })

  private def sigBandRows(docs: DataFrame, textCol: String, idCol: String,
      p: Params): DataFrame = {
    val sigBands = sigBandsUdf(p)
    docs.where(col(textCol).isNotNull)
      .select(col(idCol).cast("long").as("doc_id"),
        sigBands(transform(shinglesFast(p.n)(tokens(col(textCol))),
          s => pmod(xxhash64(s), lit(HashMod)))).as("_sb"))
      .select(col("doc_id"), col("_sb._1").as("sig"), col("_sb._2").as("bands"))
  }

  private def bandTable(rows: DataFrame): DataFrame = rows
    .select(col("doc_id"), explode(col("bands")).as("b"))
    .select(col("doc_id"), col("b._2").as("band_hash"), col("b._1").as("band_id"))

  private def root(spark: SparkSession, dir: String) = {
    val p = new org.apache.hadoop.fs.Path(dir)
    (p, p.getFileSystem(spark.sparkContext.hadoopConfiguration))
  }

  private def writeParams(spark: SparkSession, dir: String, p: Params): Unit = {
    val (r, fs) = root(spark, dir)
    val out = fs.create(new org.apache.hadoop.fs.Path(r, "params.properties"), true)
    try out.write(
      s"n=${p.n}\nnumHashes=${p.numHashes}\nbands=${p.bands}\nseed=${p.seed}\n"
        .getBytes("UTF-8"))
    finally out.close()
  }

  def readParams(spark: SparkSession, dir: String): Params = {
    val (r, fs) = root(spark, dir)
    val in = fs.open(new org.apache.hadoop.fs.Path(r, "params.properties"))
    val props = new java.util.Properties()
    try props.load(in) finally in.close()
    def req(k: String) = Option(props.getProperty(k)).getOrElse(
      throw new java.io.IOException(s"MinHashBandStore: $dir/params.properties missing '$k'"))
    Params(req("n").toInt, req("numHashes").toInt, req("bands").toInt,
      req("seed").toLong)
  }

  /** Build the store from scratch — the one full-corpus shingling pass
    * this corpus will ever pay. */
  def build(docs: DataFrame, dir: String, textCol: String = "text",
      idCol: String = "doc_id", params: Params = Params()): Unit = {
    val spark = docs.sparkSession
    writeParams(spark, dir, params)
    val rows = sigBandRows(docs, textCol, idCol, params).cache()
    try {
      rows.select("doc_id", "sig")
        .write.mode("overwrite").parquet(s"$dir/sigs")
      bandTable(rows)
        .write.mode("overwrite").partitionBy("band_id").parquet(s"$dir/bands")
    } finally rows.unpersist()
  }

  /** Append one ingest batch: O(batch) shingling, parquet appends to
    * both tables. Idempotence: a RETRIED append duplicates rows (and
    * files); [[compact]] restores the exact build-from-scratch row set
    * (probes tolerate the duplicates meanwhile — candidacy dedupes
    * before its bounded aggregate). SINGLE-MAINTAINER discipline, same
    * as the bloom store: although a lone append is just file adds, two
    * CONCURRENT appends to one directory share the committer's
    * `_temporary` staging and can silently destroy each other's task
    * output, and an append racing [[compact]]/[[deleteDocs]]' rename
    * swap lands in the swapped-out trash and is discarded. Serialize
    * all maintenance on a store externally (one scheduler slot). */
  def append(docs: DataFrame, dir: String, textCol: String = "text",
      idCol: String = "doc_id"): Unit = {
    val spark = docs.sparkSession
    val p = readParams(spark, dir)
    val rows = sigBandRows(docs, textCol, idCol, p).cache()
    try {
      rows.select("doc_id", "sig").write.mode("append").parquet(s"$dir/sigs")
      bandTable(rows)
        .write.mode("append").partitionBy("band_id").parquet(s"$dir/bands")
    } finally rows.unpersist()
  }

  // explicit schemas: an empty-corpus build (or a takedown that emptied
  // every band partition) must load as an EMPTY frame, not fail parquet
  // schema inference
  private val SigsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("sig",
      org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.LongType))))

  private val BandsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("doc_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band_hash",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("band_id",
      org.apache.spark.sql.types.IntegerType)))

  def loadSigs(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(SigsSchema).parquet(s"$dir/sigs")

  def loadBands(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(BandsSchema).parquet(s"$dir/bands")

  /** Collapse duplicate rows (retried appends) and many small append
    * files into one file per band partition / one sigs file set. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val stagedSigs = s"$dir/.staging_sigs"
    val stagedBands = s"$dir/.staging_bands"
    loadSigs(spark, dir).distinct().coalesce(1)
      .write.mode("overwrite").parquet(stagedSigs)
    loadBands(spark, dir).distinct().repartition(col("band_id"))
      .write.mode("overwrite").partitionBy("band_id").parquet(stagedBands)
    swap(spark, dir, stagedSigs, "sigs")
    swap(spark, dir, stagedBands, "bands")
  }

  /** Takedown: remove every row of the given doc ids from both tables
    * (staged rewrite + atomic-rename swap, the [[graft.multimodal
    * .SignatureStore.deleteSignatures]] discipline). */
  def deleteDocs(spark: SparkSession, dir: String, ids: DataFrame): Unit = {
    val victim = ids.select(ids.columns.head).toDF("doc_id")
      .select(col("doc_id").cast("long").as("doc_id"))
    val stagedSigs = s"$dir/.staging_sigs"
    val stagedBands = s"$dir/.staging_bands"
    loadSigs(spark, dir).join(victim, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(stagedSigs)
    loadBands(spark, dir).join(victim, Seq("doc_id"), "left_anti")
      .repartition(col("band_id"))
      .write.mode("overwrite").partitionBy("band_id").parquet(stagedBands)
    swap(spark, dir, stagedSigs, "sigs")
    swap(spark, dir, stagedBands, "bands")
  }

  private def swap(spark: SparkSession, dir: String, staged: String,
      leaf: String): Unit = {
    val (r, fs) = root(spark, dir)
    val live = new org.apache.hadoop.fs.Path(r, leaf)
    val trash = new org.apache.hadoop.fs.Path(r, s".trash_$leaf")
    def move(a: org.apache.hadoop.fs.Path, b: org.apache.hadoop.fs.Path): Unit =
      if (!fs.rename(a, b))
        throw new java.io.IOException(s"MinHashBandStore: rename $a -> $b failed")
    move(live, trash)
    move(new org.apache.hadoop.fs.Path(staged), live)
    if (!fs.delete(trash, true))
      throw new java.io.IOException(
        s"MinHashBandStore: swap complete but cleanup of $trash FAILED — remove it manually")
  }

  /** Estimated Jaccard between two equal-width signatures: fraction of
    * agreeing components (E[est] = true Jaccard; σ = √(J(1−J)/k)). */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
      lit(0), (acc, m) => acc + m).cast("double") / numHashes

  /** Frozen-history NEAR-dup novelty: drop every batch doc whose
    * estimated Jaccard against ANY history doc reaches `threshold`;
    * history text is never read — only band keys and signatures.
    *
    * Candidacy, hot-bucket-SAFE (the [[Dedup.nearSimPairsCross]]
    * discipline):
    *
    *  - SENTINEL ident: a batch doc whose whole-signature hash
    *    (band_id −1) appears in history is a candidate via a
    *    partition-pruned join against the DISTINCT signatures of the
    *    probed sentinel buckets (≈1 per bucket barring a 64-bit
    *    collision — a million identical re-crawls collapse map-side),
    *    so no per-doc expansion is needed and no bucket cap can hide
    *    a verbatim-or-near-verbatim re-crawl, however many million
    *    copies history holds. Sentinel candidates are VERIFIED like
    *    every other candidate (identical signatures estimate Jaccard
    *    exactly 1.0, so true matches always pass) — a 64-bit sentinel
    *    hash collision between two different signatures therefore
    *    cannot silently discard a genuinely novel document.
    *  - LSH bands: history band buckets build bounded doc-id posting
    *    lists ([[org.apache.spark.sql.graft.BoundedIdList]], cap
    *    `maxBucket`); over-cap buckets (boilerplate/empty-doc band
    *    keys — degenerate by construction) leave candidacy, so a
    *    probe doc meets ≤ bands·maxBucket history candidates. A near
    *    pair is missed only if EVERY band it agrees on is over-cap
    *    AND the signatures are not identical.
    *
    * Verification runs on candidates only: signature-estimate Jaccard
    * (±1/√numHashes ≈ 0.125 at 64 hashes — callers should keep real
    * thresholds ≥2σ from their decision boundary, which planted
    * re-crawl twins at J≈0.75 vs threshold 0.5 comfortably are). For
    * an exact-Jaccard audit against available history text, see
    * [[matchedIdsExact]].
    *
    * Caching: the one-pass signature projection is cached LAZILY and
    * left to the session — but thanks to the memoized per-Params UDF,
    * repeated invocations over the same batch canonicalize to the SAME
    * plan and share ONE cache entry (bench reps, a retried driver step)
    * rather than accumulating. Unbounded callers (a micro-batch loop)
    * should still use [[noveltyAgainstStoreEach]], which releases the
    * entry deterministically. */
  def noveltyAgainstStore(batch: DataFrame, dir: String,
      threshold: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id", maxBucket: Int = 4096): DataFrame = {
    val p = readParams(batch.sparkSession, dir)
    probeSurvivors(batch, sigBandRows(batch, textCol, idCol, p).cache(),
      dir, threshold, idCol, maxBucket, p.numHashes)
  }

  /** Probe body over an already-CACHED one-pass projection `in` —
    * split out so [[noveltyAgainstStoreEach]] can hold the exact
    * cached reference for release (a reconstructed plan would carry a
    * fresh UDF instance and uncache nothing). */
  private def probeSurvivors(batch: DataFrame, in: DataFrame, dir: String,
      threshold: Double, idCol: String, maxBucket: Int,
      numHashes: Int): DataFrame = {
    val spark = batch.sparkSession
    val inBands = bandTable(in)
    val storeBands = loadBands(spark, dir)
    // sentinel candidacy joins the DISTINCT history signatures of the
    // probed sentinel buckets (the semi-join filter keeps this O(batch
    // sentinel hits), the distinct collapses identical-re-crawl mass
    // map-side before the shuffle) and then VERIFIES — an unverified
    // hash-equality drop would let a 64-bit collision between two
    // different signatures discard a genuinely novel document
    val probeSentKeys = inBands.where(col("band_id") === -1)
      .select("band_hash").distinct()
    val sentHistSigs = storeBands.where(col("band_id") === -1)
      .join(probeSentKeys, Seq("band_hash"), "left_semi")
      .join(loadSigs(spark, dir), Seq("doc_id"))
      .select(col("band_hash"), col("sig").as("_sh"))
      .distinct()
    val identMatched = inBands.where(col("band_id") === -1)
      .select(col("doc_id"), col("band_hash"))
      .join(sentHistSigs, Seq("band_hash"))
      .join(in.select(col("doc_id"), col("sig").as("_si")), Seq("doc_id"))
      .where(estJaccard(col("_si"), col("_sh"), numHashes) >= threshold)
      .select(col("doc_id"))
    // the batch's band keys are known (the one-pass projection is
    // cached), so the store scan is filtered by a semi-join on the
    // grouping keys BEFORE any aggregation — the postings groupBy
    // holds state only for probed buckets, O(batch-bucket rows),
    // instead of building posting lists for the ENTIRE history band
    // table per daily probe. No explicit broadcast hint: the key set
    // grows with batch_size × bands, and a forced broadcast of a
    // 50M-doc day would kill the job — AQE picks broadcast when the
    // materialized key stage is actually small. The distinct() before
    // the bounded aggregate matters: a RETRIED append leaves duplicate
    // rows, and BoundedIdList latches on ROWS — without the dedupe a
    // bucket genuinely under the distinct-doc cap would spuriously
    // latch NULL and drop candidacy until compact() runs. It sits
    // AFTER the semi-join, so it dedupes only probed-bucket rows.
    val probeKeys = inBands.where(col("band_id") >= 0)
      .select("band_id", "band_hash").distinct()
    val postings = storeBands.where(col("band_id") >= 0)
      .join(probeKeys, Seq("band_id", "band_hash"), "left_semi")
      .distinct()
      .groupBy("band_id", "band_hash")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxBucket, col("doc_id")).as("_hs"))
      .where(col("_hs").isNotNull)
    val nearMatched = inBands.where(col("band_id") >= 0)
      .join(postings, Seq("band_id", "band_hash"))
      .select(col("doc_id"), explode(col("_hs")).as("hist_id"))
      .distinct()
      .join(in.select(col("doc_id"), col("sig").as("_si")), Seq("doc_id"))
      .join(loadSigs(spark, dir)
          .select(col("doc_id").as("hist_id"), col("sig").as("_sh")),
        Seq("hist_id"))
      .where(estJaccard(col("_si"), col("_sh"), numHashes) >= threshold)
      .select(col("doc_id"))
    val matched = identMatched.unionByName(nearMatched).distinct()
    // barrier: a union-shaped batch would otherwise have the whole
    // matched pipeline (and its shingling) cloned into every branch by
    // PushDownLeftSemiAntiJoin — see PlanGuards.survivorsBarrier
    graft.PlanGuards.survivorsBarrier(batch, "minhash_store_novelty_in")
      .join(matched.select(col("doc_id").as(idCol)), Seq(idCol), "left_anti")
  }

  /** [[noveltyAgainstStore]] with MANAGED cache lifetime, for callers
    * that fully consume the survivors inside one scope — the streaming
    * foreachBatch loop above all: the batch operator's internal cache
    * is released when `consume` returns, so a micro-batch-per-minute
    * stream does not pin one cached projection per batch forever
    * (storage-LRU eviction is the wrong contract for an unbounded
    * loop). */
  def noveltyAgainstStoreEach(batch: DataFrame, dir: String,
      threshold: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id", maxBucket: Int = 4096)(
      consume: DataFrame => Unit): Unit = {
    val p = readParams(batch.sparkSession, dir)
    val in = sigBandRows(batch, textCol, idCol, p).cache()
    try consume(probeSurvivors(batch, in, dir, threshold, idCol, maxBucket,
      p.numHashes))
    finally in.unpersist()
  }

  /** Pairwise SELF-JOIN twin of the store probe's decision function:
    * near-dup pairs over one frame under the IDENTICAL hash family,
    * banding, and signature-ESTIMATE Jaccard verify as
    * [[noveltyAgainstStore]], emitted as ordered (id_a < id_b) pairs.
    *
    * [[Dedup.minhashLshPairs]] is the exact-Jaccard-verified batch
    * operator (same candidacy, stronger verify); THIS form exists for
    * callers that need bit-level DECISION PARITY with the store probe —
    * above all proving that a day-by-day incremental ingest equals its
    * one-shot batch twin ([[graft.examples.DailyIngest]]): near the
    * threshold the estimate (σ ≈ 0.125 at 64 hashes) and the exact
    * Jaccard can disagree, so an equivalence gate must use the same
    * estimator on both sides. At-scale caveat: the store probe bounds
    * hot buckets (`maxBucket` posting latch) while this self-join does
    * not — parity holds wherever no bucket exceeds the cap.
    *
    * The signature frame is cached for its three consumers (both band
    * sides + the sig joins would otherwise re-shingle) and belongs to the
    * caller's [[graft.CacheScope]]: a looping caller (the daily-ingest
    * driver) releases it per day with the scope; with no scope open it
    * is left to storage LRU. */
  def estPairs(docs: DataFrame, textCol: String = "text",
      idCol: String = "doc_id", params: Params = Params(),
      threshold: Double = 0.5): DataFrame = {
    val rows = graft.CacheScope.cache(sigBandRows(docs, textCol, idCol, params))
    val bands = bandTable(rows)
    bands.as("a").join(bands.as("b"), Seq("band_id", "band_hash"))
      .where(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
      .join(rows.select(col("doc_id").as("id_a"), col("sig").as("_sa")), Seq("id_a"))
      .join(rows.select(col("doc_id").as("id_b"), col("sig").as("_sb")), Seq("id_b"))
      .where(estJaccard(col("_sa"), col("_sb"), params.numHashes) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** (victim doc_id, history doc_id) pairs under the store's OWN
    * est-Jaccard decision function, computed entirely from STORED
    * features — band rows for candidacy, signatures for verification;
    * no text is re-read, so a takedown can expand its victim set on a
    * corpus whose raw text is no longer at hand. Candidacy treats
    * every band row (sentinel included) as an ordinary bounded
    * postings bucket, the [[matchedIdsExact]] shape; over-cap buckets
    * leave candidacy — the documented hot-bucket trade. Self-pairs
    * excluded; both directions of a pair are reachable because the
    * victim's own band rows are the probe side. */
  def matchedPairsFromStore(spark: SparkSession, dir: String, ids: DataFrame,
      threshold: Double = 0.5, maxBucket: Int = 4096): DataFrame = {
    val p = readParams(spark, dir)
    val vIds = ids.select(col(ids.columns.head).cast("long").as("doc_id"))
    val storeBands = loadBands(spark, dir)
    val vBands = storeBands.join(vIds, Seq("doc_id"), "left_semi").distinct()
    val probeKeys = vBands.select("band_id", "band_hash").distinct()
    val postings = storeBands
      .join(probeKeys, Seq("band_id", "band_hash"), "left_semi")
      .distinct() // retried-append duplicate rows must not inflate buckets
      .groupBy("band_id", "band_hash")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxBucket, col("doc_id")).as("_hs"))
      .where(col("_hs").isNotNull)
    val sigs = loadSigs(spark, dir)
    vBands.join(postings, Seq("band_id", "band_hash"))
      .select(col("doc_id"), explode(col("_hs")).as("hist_id"))
      .where(col("doc_id") =!= col("hist_id"))
      .distinct()
      .join(sigs.select(col("doc_id"), col("sig").as("_sv")), Seq("doc_id"))
      .join(sigs.select(col("doc_id").as("hist_id"), col("sig").as("_sh")),
        Seq("hist_id"))
      .where(estJaccard(col("_sv"), col("_sh"), p.numHashes) >= threshold)
      .select(col("doc_id"), col("hist_id")).distinct()
  }

  /** Exact-Jaccard audit twin of [[noveltyAgainstStore]]'s decision:
    * matched batch doc ids verified against ACTUAL history text (a
    * candidate-bounded join back to the history corpus — selective,
    * not a full re-read). Candidacy includes the SENTINEL band as an
    * ordinary postings bucket: under an un-hit `maxBucket` it adds
    * only all-band-agreeing pairs the bands already produced, so the
    * matched set equals [[Dedup.minhashLshPairs]]' cross-pair
    * decisions exactly (gated) — while under hot-bucket skew the
    * audit still sees the signature-identical candidates the probe's
    * latch-free sentinel sheds (degrading only for identical-signature
    * classes beyond the cap, where the band buckets are NULL too). */
  def matchedIdsExact(batch: DataFrame, dir: String, history: DataFrame,
      threshold: Double = 0.5, textCol: String = "text",
      idCol: String = "doc_id", maxBucket: Int = 4096): DataFrame = {
    val spark = batch.sparkSession
    val p = readParams(spark, dir)
    val shingleSet = (df: DataFrame, out: String) =>
      df.where(col(textCol).isNotNull)
        .select(col(idCol).cast("long").as(out),
          shinglesFast(p.n)(tokens(col(textCol))).as(s"_sh_$out"))
    val in = sigBandRows(batch, textCol, idCol, p)
    val storeBands = loadBands(spark, dir)
    val postings = storeBands
      .distinct() // retried-append duplicate rows must not inflate buckets
      .groupBy("band_id", "band_hash")
      .agg(org.apache.spark.sql.graft.BoundedIdList
        .boundedList(maxBucket, col("doc_id")).as("_hs"))
      .where(col("_hs").isNotNull)
    val cands = bandTable(in)
      .join(postings, Seq("band_id", "band_hash"))
      .select(col("doc_id"), explode(col("_hs")).as("hist_id"))
      .distinct()
    cands
      .join(shingleSet(batch, "doc_id"), Seq("doc_id"))
      .join(shingleSet(history, "hist_id"), Seq("hist_id"))
      .where((size(array_intersect(col("_sh_doc_id"), col("_sh_hist_id")))
          .cast("double") /
        size(array_union(col("_sh_doc_id"), col("_sh_hist_id")))) >= threshold)
      .select(col("doc_id")).distinct()
  }
}
