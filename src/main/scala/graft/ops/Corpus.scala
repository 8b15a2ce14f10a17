package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-assembly operators for training-data pipelines: deterministic
  * splitting, mixture (per-source rate) sampling, stratified sampling,
  * and token-budget shard packing.
  *
  * All randomness is hash-derived (md5 of a salted key), never RNG-based:
  * the same document lands in the same split/sample on every run, on any
  * cluster size, with no seed plumbing — the property a 100 TB pipeline
  * needs so that incremental re-runs don't reshuffle the corpus. Each
  * decision is a pure codegen'd projection or one windowed pass; nothing
  * here collects to the driver.
  *
  * Hashes use the md5-hex trick from [[graft.text.TextFunctions]] so a
  * DuckDB oracle reproduces every decision bit-for-bit.
  */
object Corpus {

  /** Deterministic bucket in [0, 65536): first 4 md5 hex chars of the
    * salted key. Distinct salts make decisions independent — a doc's
    * split assignment doesn't correlate with its sampling fate. */
  def unitBucket(key: Column, salt: String): Column =
    conv(substring(md5(concat(key.cast("string"), lit(":" + salt))), 1, 4), 16, 10)
      .cast("int")

  /** Train/val/test thresholds on the 16-bit bucket: 52429/65536 ≈ 80.0%,
    * (58982−52429)/65536 ≈ 10.0%, remainder ≈ 10.0%. */
  val TrainUpper = 52429
  val ValUpper   = 58982

  /** Assign each row a deterministic train/val/test split (≈80/10/10) by
    * hashing its key. Pure projection — no shuffle, no sort, no driver
    * state; membership is stable under corpus growth (adding documents
    * never moves an existing one across splits, unlike modulo-on-count
    * or sort-position schemes). */
  def hashSplit(df: DataFrame, key: Column, salt: String = "split"): DataFrame = {
    val b = unitBucket(key, salt)
    df.withColumn("split",
      when(b < TrainUpper, "train").when(b < ValUpper, "val").otherwise("test"))
  }

  /** Leakage-safe split: hash on the near-dup CLUSTER representative, not
    * the document id, so a cluster of near-duplicates can never straddle
    * train/test — the standard eval-contamination failure of naive
    * per-doc splitting (a test doc whose near-copy sits in train scores
    * as memorization, not generalization). `clusters` is a
    * (id, canonical_id) frame over the duplicate-graph members only
    * (e.g. [[Dedup.canonicalize]] output); unclustered documents fall
    * back to their own id, reproducing [[hashSplit]] exactly, so
    * adopting this operator reassigns ONLY documents that have a
    * near-duplicate. One left equi-join against the (small, but
    * unbounded-fraction — same no-hint discipline as [[Dedup.retain]])
    * cluster side, then the usual pure-projection bucket decision.
    * Output: docs.* plus (split_key, split). */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame,
      idCol: String = "doc_id", salt: String = "split"): DataFrame = {
    val c = clusters.select(col("id"), col("canonical_id"))
    val keyed = docs.join(c, docs(idCol) === c("id"), "left")
      .withColumn("split_key", coalesce(col("canonical_id"), col(idCol)))
    hashSplit(keyed, col("split_key"), salt)
      .drop("id", "canonical_id")
  }

  /** Keep each row with per-row probability `rate` (a Column in [0,1]),
    * deterministically: kept iff bucket < round(rate·65536). This is the
    * data-mixing primitive — upweight/downweight sources by giving each
    * its own rate — as a pure filter, so Catalyst pushes it into the
    * scan and a 0.25-rate source reads like a 0.25-size source. */
  def mixtureSample(df: DataFrame, key: Column, rate: Column,
      salt: String = "mix"): DataFrame =
    df.where(unitBucket(key, salt) < round(rate * 65536).cast("int"))

  /** Exactly-k-per-stratum deterministic sample: rank rows inside each
    * stratum by (hash, key) — the hash plays "random order", the key
    * breaks 16-bit bucket collisions — and keep rank ≤ k. One hash
    * exchange on the stratum key + a bounded per-group sort; strata are
    * numerous and small in a real corpus (source × language), so the
    * window never sees a giant partition. For a skewed stratum key, the
    * bounded-heap TopK aggregate (org.apache.spark.sql.graft) is the
    * drop-in replacement. */
  def stratifiedSample(df: DataFrame, strata: Seq[String], k: Int,
      key: Column, salt: String = "strat"): DataFrame = {
    val w = Window.partitionBy(strata.map(col): _*)
      .orderBy(unitBucket(key, salt), key)
    df.withColumn("rn", row_number().over(w)).where(col("rn") <= k)
  }

  /** Temperature-scaled source mixing (the XLM-R / multilingual-LM
    * rebalancing rule): sampling probability p_s ∝ n_s^α, so α=1 is
    * proportional sampling, α=0 equalizes sources, and 0<α<1 upweights
    * low-resource sources in between. Returns one deterministic
    * keep-rate per source value, r_s = min(1, budget·p_s/n_s), for a
    * target corpus of ≈`budget` rows; apply via [[mixtureSample]] with
    * the joined rate column. Rates are rounded to 6 decimals BEFORE the
    * bucket threshold so a SQL oracle reproduces the integer cut
    * bit-for-bit (tfidf precedent for killing ulp noise). The source
    * count frame is |sources|-sized, so the normalizer is a bounded
    * driver scalar (tfidf's N precedent) and the rate join back onto the
    * corpus is a broadcast. Rates above 1 clamp: a pure filter cannot
    * upsample — repeat-epoch logic belongs to the training loader. */
  def temperatureRates(df: DataFrame, src: Column, alpha: Double,
      budget: Long): DataFrame = {
    require(budget > 0,
      s"budget must be positive, got $budget (a non-positive target corpus has no rate interpretation)")
    require(alpha >= 0,
      s"alpha must be >= 0, got $alpha (a negative temperature INVERTS the rebalancing)")
    val counts = df.groupBy(src.as("src")).agg(count(lit(1)).as("n_s")).cache()
    try {
      // sum over ZERO groups is null (empty input): the rate frame is
      // empty anyway, so any finite normalizer yields the right result
      val zRow = counts.agg(sum(pow(col("n_s"), alpha))).head
      val z = if (zRow.isNullAt(0)) 1.0 else zRow.getDouble(0)
      val rates = counts.select(col("src"),
        round(least(lit(1.0),
          pow(col("n_s"), alpha) / lit(z) * lit(budget.toDouble) / col("n_s")),
          6).as("rate"))
      // the rate frame is |sources|-sized by design — materialize it into
      // a local relation so the cached counts frame is released HERE
      // (deterministic lifetime instead of storage-LRU accumulation in a
      // long-lived session) and the returned frame broadcasts naturally
      // in the join back onto the corpus
      val rows = rates.collect()
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(rows: _*), rates.schema)
    } finally counts.unpersist()
  }

  /** Pack rows into contiguous weight-budget shards: within each
    * partition key (e.g. source), order rows deterministically and chunk
    * the running weight sum at multiples of `budget` — the standard
    * "pack documents into ~N-token training shards" pass. A row whose
    * weight straddles a boundary belongs to the shard where it started
    * (shard id = prefix sum BEFORE the row, integer-divided by budget).
    * One hash exchange + one sort per partition key; shard ids are
    * per-key, so downstream writers use (key, shard) as the output
    * partition — no global coordination. */
  def packShards(df: DataFrame, partitionKey: Column, order: Column,
      weight: Column, budget: Long): DataFrame = {
    val w = Window.partitionBy(partitionKey).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // integer `div`, not `/`: Column./ is double division, and
    // cast-after-double rounds differently across engines on exact
    // budget multiples — div keeps the whole computation in longs
    df.withColumn("_w", weight)
      .withColumn("_cum", sum(col("_w")).over(w))
      .withColumn("shard", expr(s"(_cum - _w) div $budget"))
      .drop("_w", "_cum")
  }

  /** Per-document slice coordinates inside the [[assembleTextShards]]
    * byte streams: each input row, its [[packShards]] shard id, and the
    * CHARACTER span `[offset, offset + nchars)` of its text inside the
    * assembled `(key, shard)` stream — documents are laid out in pack
    * order, joined by the two-character `\n\n` separator. `substring
    * (shard_text, offset + 1, nchars)` (1-based, character semantics on
    * both Spark and ANSI SQL) reproduces the document exactly, which is
    * what the daily-ingest gate pins md5-exact. Same cost shape as
    * [[packShards]]: the pack window's hash exchange, then per-(key,
    * shard) windows that reuse its clustering. */
  def shardTextIndex(df: DataFrame, partitionKey: Column, order: Column,
      weight: Column, text: Column, budget: Long): DataFrame = {
    val packed = packShards(df, partitionKey, order, weight, budget)
    val w = Window.partitionBy(partitionKey, col("shard")).orderBy(order)
    packed.withColumn("_len", length(text).cast("long"))
      .withColumn("_cum", sum(col("_len")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("_rn", row_number().over(w))
      .withColumn("offset",
        col("_cum") - col("_len") + lit(2L) * (col("_rn") - 1))
      .withColumn("nchars", col("_len"))
      .drop("_len", "_cum", "_rn")
  }

  /** The assembled training-text streams [[shardTextIndex]] indexes
    * into: per `(key, shard)`, the documents concatenated in pack order
    * with a `\n\n` separator — the text twin of
    * [[graft.multimodal.Multimodal.assembleShards]]. Output: the key
    * column (its own name), shard, shard_text. Per-group state is one
    * shard's documents — bounded by the pack budget, never by the
    * corpus. */
  def assembleTextShards(df: DataFrame, partitionKey: Column, order: Column,
      weight: Column, text: Column, budget: Long): DataFrame =
    packShards(df, partitionKey, order, weight, budget)
      .groupBy(partitionKey, col("shard"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(order.as("_o"), text.as("_t")))),
        x => x.getField("_t")), "\n\n").as("shard_text"))

  /** Concat-then-chunk sequence packing — the OTHER packing discipline
    * (GPT-style pretraining dataloaders): per partition key, documents
    * are laid end-to-end into one token stream and cut into fixed
    * `seqLen`-token training sequences, documents SPLITTING across
    * sequence boundaries (vs [[packShards]], which keeps documents whole
    * and lets shards vary in fill). Emits each document's coordinates in
    * that layout: its global token span [tok_start, tok_end) and the
    * (sequence, offset) of its first and last token — exactly what a
    * writer needs to emit packed rows, and what attention-masking needs
    * to find document boundaries inside each sequence.
    *
    * Zero-token rows must be excluded upstream (they occupy no span;
    * `(tok_end − 1)` underflows for them by construction).
    *
    * Scale shape: identical to [[packShards]] — one running-sum window
    * per partition key, everything else a pure integer projection (all
    * `div`/`pmod`, no doubles), so the only exchange is the window's
    * hash partitioning and sequence ids never require materializing the
    * packed stream itself. */
  def packSequences(df: DataFrame, partitionKey: Column, order: Column,
      weight: Column, seqLen: Long): DataFrame = {
    val w = Window.partitionBy(partitionKey).orderBy(order)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("_w", weight)
      .withColumn("_cum", sum(col("_w")).over(w))
      .withColumn("tok_start", col("_cum") - col("_w"))
      .withColumn("tok_end", col("_cum"))
      .withColumn("seq_start", expr(s"tok_start div $seqLen"))
      .withColumn("off_start", pmod(col("tok_start"), lit(seqLen)))
      .withColumn("seq_end", expr(s"(tok_end - 1) div $seqLen"))
      .withColumn("off_end", pmod(col("tok_end") - 1, lit(seqLen)) + 1)
      .drop("_w", "_cum")
  }

  /** GLOBAL ordered weight-budget admission — "keep the best rows until
    * the budget fills": mark each row `admitted` iff its INCLUSIVE
    * running weight total, over the GLOBAL `order`, is ≤ `budget`. The
    * admitted set is the exact order-prefix (once the running total
    * passes the budget every later row rejects — weights must be
    * non-negative, checked per row), so the result depends only on
    * (order, weights, budget), never on partitioning.
    *
    * Unlike [[packShards]]' per-key windows, the order here is global —
    * and a global window is a single-partition collapse, the one shape
    * a 100 TB pass cannot take. This is the classic distributed
    * prefix-sum instead: range-repartition on the order key, sort
    * within partitions, ONE bounded pass collecting per-partition
    * weight sums (numPartitions scalars), driver prefix-sums them, and
    * a second pass streams each partition against its broadcast offset.
    * The two passes share one sorted RDD (persisted MEMORY_AND_DISK).
    *
    * `order` must be a TOTAL order (include a unique id as tie-break;
    * the daily-ingest keystone passes doc_id) — ties at the admission
    * boundary would otherwise admit a partition-dependent subset. The
    * operator cannot check totality cheaply (it would cost a distinct
    * over the order key), so the obligation is the caller's.
    *
    * Lifecycle: the shared sorted RDD stays persisted after this call
    * (both the offset collect and the caller's evaluation read it).
    * A looping caller wraps each call, and the materialization of its
    * result, in a [[graft.CacheScope]], which sweeps the RDD (the daily
    * loop does this per day); one-shot callers leave it to storage LRU /
    * session end. */
  def admitByBudget(df: DataFrame, order: Seq[Column], weight: Column,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    require(order.nonEmpty, "admitByBudget needs an order")
    val spark = df.sparkSession
    val parts = math.max(1, spark.sessionState.conf.numShufflePartitions)
    val ranged = df.withColumn("_w", weight.cast("long"))
      .repartitionByRange(parts, order: _*)
      .sortWithinPartitions(order: _*)
    val schema = ranged.schema
    val wIdx = schema.fieldIndex("_w")
    def weightAt(r: org.apache.spark.sql.Row): Long = {
      // a null weight would otherwise surface as a raw NPE from
      // getLong, naming neither the operator nor the column
      require(!r.isNullAt(wIdx),
        "admitByBudget: null weight — every row must carry a non-null, " +
          "non-negative weight (check the weight column for nulls)")
      val w = r.getLong(wIdx)
      require(w >= 0, s"admitByBudget: negative weight $w breaks the prefix")
      w
    }
    val rdd = ranged.rdd
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sums = rdd.mapPartitionsWithIndex { (i, it) =>
      var s = 0L
      it.foreach { r => s += weightAt(r) }
      Iterator((i, s))
    }.collect().sortBy(_._1).map(_._2)
    val prefix = sums.scanLeft(0L)(_ + _) // prefix(i) = total weight before partition i
    val bc = spark.sparkContext.broadcast(prefix)
    val marked = rdd.mapPartitionsWithIndex { (i, it) =>
      var cum = bc.value(i)
      it.map { r =>
        cum += weightAt(r)
        org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (cum <= budget))
      }
    }
    spark.createDataFrame(marked, schema
        .add(org.apache.spark.sql.types.StructField("admitted",
          org.apache.spark.sql.types.BooleanType, nullable = false)))
      .drop("_w")
  }
}
