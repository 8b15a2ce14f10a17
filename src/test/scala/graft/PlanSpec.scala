package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale-critical plan properties must hold
  * structurally, not by luck — filters reach the parquet scan, small dims
  * broadcast, custom expressions stay inside whole-stage codegen, and the
  * top-k aggregation keeps its partial (map-side) phase. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  test("q6: filters are pushed into the parquet scan") {
    val p = plan("q6_filtered_revenue")
    assert(p.contains("PushedFilters: ["), p)
    assert(p.contains("GreaterThanOrEqual(l_shipdate") || p.contains("IsNotNull(l_shipdate"), p)
  }

  test("q6: scan reads only referenced columns") {
    val p = plan("q6_filtered_revenue")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), s"column pruning failed: $readSchema")
    assert(readSchema.contains("l_extendedprice"), readSchema)
  }

  test("q2: dimension joins are broadcast, not shuffled") {
    val p = plan("q2_join_revenue")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), s"5-way star join must broadcast dims at this SF:\n$p")
  }

  test("q1: aggregation has a partial (map-side) phase") {
    val p = plan("q1_agg")
    assert(p.contains("partial_sum"), p)
  }

  test("knn: exact top-k maps range slices over one broadcast, no cartesian or exchange") {
    val p = plan("knn_embeddings")
    assert(p.contains("Range ("), p)
    assert(p.contains("MapPartitions"), p)
    for (op <- Seq("CartesianProduct", "BroadcastNestedLoopJoin", "Exchange", "topk_neighbors"))
      assert(!p.contains(op), s"$op in\n$p")
  }

  test("x2p: exact calibration is the same range map, with no join, exchange or explode") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val p = tsne.X2P.x2p(emb, "vec_id", "embedding").queryExecution.executedPlan.toString
    assert(p.contains("Range ("), p)
    for (op <- Seq("Join", "CartesianProduct", "Exchange", "Generate"))
      assert(!p.contains(op), s"$op in\n$p")
  }

  test("knn oracle: sq-dist participates in whole-stage codegen at runtime") {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val df = tsne.KNN.knnWindow(emb, "vec_id", "embedding", 10)
    df.collect() // force execution so AQE finalizes stages
    val executed = df.queryExecution.executedPlan.toString
    // '*(n)' prefixes mark whole-stage-codegen stages; the sq-dist
    // projection must carry one
    assert(executed.linesIterator.exists(l =>
      l.contains("array_sq_dist") && l.trim.matches(".*\\*\\(\\d+\\) Project.*")),
      executed.take(2000))
  }

  test("ann_ivf: candidates come from a cell equi-join, never a cartesian") {
    val p = plan("ann_ivf_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("partial_topk_neighbors"), p)
  }

  test("dedup_minhash: candidates come from a band equi-join, never a cartesian") {
    val p = plan("dedup_minhash_lsh")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q24: EXISTS is planned as a semi join, not a per-row subquery") {
    val p = plan("q24_exists_semijoin")
    assert(p.contains("LeftSemi"), p)
  }

  test("q27: salted aggregation keeps both stages partial-aggregated") {
    val p = plan("q27_salted_agg")
    // stage 1 on (key, salt) and stage 2 on key must each have a
    // map-side partial phase — the whole point of salting
    assert(p.linesIterator.count(_.contains("partial_sum")) >= 2, p)
  }

  test("q16: range join stays an equi-join on user_id (no nested loop)") {
    val p = plan("q16_purchase_follow")
    assert(!p.contains("BroadcastNestedLoopJoin") || p.contains("HashJoin"),
      s"time-range join must keep its user_id equi-key:\n$p")
  }

  test("text_repetition: shuffle-free projection (no exchange at all)") {
    val p = plan("text_repetition")
    assert(!p.contains("Exchange"),
      s"per-doc repetition must stay a projection over the scan:\n$p")
  }

  test("corpus_split: pure projection over the scan (no exchange at all)") {
    val p = plan("corpus_split")
    assert(!p.contains("Exchange"),
      s"hash-split must stay a projection over the scan:\n$p")
  }

  test("corpus_mixture: deterministic filter keeps a shuffle-free plan") {
    val p = plan("corpus_mixture")
    assert(!p.contains("Exchange"),
      s"mixture sampling must stay filter+project over the scan:\n$p")
  }

  test("corpus_stratified_sample: exactly one exchange (the stratum-key window)") {
    val p = plan("corpus_stratified_sample")
    val n = p.linesIterator.count(_.contains("Exchange"))
    assert(n == 1, s"expected 1 exchange on (source, lang), found $n:\n$p")
  }

  test("corpus_pack_shards: exactly one exchange (the per-source packing window)") {
    val p = plan("corpus_pack_shards")
    val n = p.linesIterator.count(_.contains("Exchange"))
    assert(n == 1, s"expected 1 exchange on source, found $n:\n$p")
  }

  test("ann_pq: cell equi-join with partial ADC top-k, never a cartesian") {
    val p = plan("ann_pq_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the ADC shortlist must keep its map-side partial phase — that is
    // what bounds the shuffle to O(n·k·refine) rows of (id, id, double)
    assert(p.contains("partial_topk_neighbors"), p)
  }

  test("dedup_semantic: candidates come from a cell equi-join, never a cartesian") {
    val p = plan("dedup_semantic")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dedup_substring_spans: hash equi-joins only, no cartesian or nested loop") {
    val p = plan("dedup_substring_spans")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the window explode + md5 keying must stay codegen'd projection work
    assert(p.linesIterator.exists(l =>
      l.contains("Generate") || l.contains("explode")), p)
  }

  test("text_contamination: benchmark n-gram set joins as broadcast") {
    val p = plan("text_contamination")
    assert(p.contains("BroadcastHashJoin"),
      s"the (small by nature) benchmark set must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("corpus_temperature_mix: per-source rates join as broadcast") {
    val p = plan("corpus_temperature_mix")
    assert(p.contains("BroadcastHashJoin"),
      s"the |sources|-row rate table must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("text_gopher_filter: shuffle-free filter+projection, scan pruned to (doc_id, text)") {
    val p = plan("text_gopher_filter")
    assert(!p.contains("Exchange"),
      s"the rule filter must run at scan speed — projection + filter only:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("doc_id") && readSchema.contains("text"), readSchema)
    assert(!readSchema.contains("source") && !readSchema.contains("lang"),
      s"column pruning failed: $readSchema")
  }

  test("text_lm_perplexity: key equi-joins with partial counts, no cartesian") {
    val p = plan("text_lm_perplexity")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // model counts must keep their map-side combine (the bigram explode
    // multiplies rows; partial aggregation shrinks them before shuffle) —
    // assert the COUNT aggregate specifically: any catch-all partial_*
    // disjunct would be satisfied by an unrelated partial aggregate and
    // could never fail meaningfully
    assert(p.contains("partial_count"), p)
  }

  test("text_bm25_topk: posting-list equi-joins only, never a cartesian") {
    val p = plan("text_bm25_topk")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // tf counts must map-side combine before the term shuffle
    assert(p.contains("partial_count"), p)
    // ranking is the bounded-heap aggregate, never a row_number window
    // sorting a common-term query's unbounded candidate list on one task
    assert(p.contains("partial_topk_neighbors"), p)
    assert(!p.contains("row_number"), s"hot-key window crept back in:\n$p")
  }

  test("text_c4_clean: shuffle-free line-rule projection (scan speed)") {
    val p = plan("text_c4_clean")
    assert(!p.contains("Exchange"),
      s"C4 line cleaning must stay projection+filter over the scan:\n$p")
  }

  test("text_dsir_weights: bucket-ratio table joins as broadcast, no cartesian") {
    val p = plan("text_dsir_weights")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the ≤`buckets`-row log-ratio table must broadcast onto the gram
    // stream — a sort-merge there would shuffle the whole gram explode
    assert(p.contains("BroadcastHashJoin"), p)
    // gram counts must keep their map-side combine
    assert(p.contains("partial_count"), p)
  }

  test("text_paragraph_dedup: winners by partial min-aggregate, never a window sort") {
    val p = plan("text_paragraph_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the keep-first winner must come from the native hash-aggregable
    // keep_first WITH its map-side combine — a row_number window would
    // sort every occurrence of a hot boilerplate line on one task, and
    // min(struct(...)) falls back to a map-side-SORTING SortAggregate;
    // the partial phase collapses each map partition's occurrences to
    // one buffered row before the shuffle
    assert(p.contains("partial_keep_first"), p)
    assert(p.contains("ObjectHashAggregate"),
      s"keep_first must hash-aggregate, not sort:\n$p")
    assert(!p.contains("Window"), s"keep-first must not plan a window sort:\n$p")
  }

  test("text_span_scrub: bench hashes broadcast; per-doc windows only") {
    val p = plan("text_span_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the benchmark window-hash set must broadcast onto the corpus stream
    assert(p.contains("BroadcastHashJoin"), p)
    // island/segment windows are doc_id-partitioned (hits only, never the
    // corpus) — a global window here would single-task the merge
    assert(p.linesIterator.filter(_.contains("Window"))
      .forall(!_.contains("Window []")), s"unpartitioned window:\n$p")
  }

  test("text_top_ngrams: global top-k plans as TakeOrdered, counts combine map-side") {
    val p = plan("text_top_ngrams")
    // orderBy(...).limit(k) over the census must become per-partition
    // bounded heaps + a k-row driver merge, never a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("partial_count"), p)
  }

  test("dedup_span_scrub: primitive min-chain ownership; windows stay doc-partitioned") {
    val p = plan("dedup_span_scrub")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // window-hash ownership must stay on codegen'd primitive
    // HashAggregates (the min-chain) — never the keep_first object
    // aggregate over the near-unique hash stream (its sort fallback
    // measured 5.9 s vs 2.0 s), and never a row_number over the
    // boilerplate-hot hash (single-tasks hot keys; the only Window
    // nodes belong to the doc_id-partitioned island merge). The one
    // ObjectHashAggregate allowed is the scrub tail's doc_id-keyed
    // collect_list reassembly, whose groups are bounded by spans/doc.
    assert(p.contains("partial_min"), p)
    assert(!p.contains("keep_first"), p)
    assert(!p.contains("row_number"), s"hash-partitioned row_number crept in:\n$p")
    assert(p.linesIterator.filter(_.contains("ObjectHashAggregate"))
      .forall(_.contains("collect_list")), s"object agg outside reassembly:\n$p")
    assert(p.linesIterator.filter(_.contains("Window"))
      .forall(!_.contains("Window []")), s"unpartitioned window:\n$p")
  }

  test("corpus_leakage_safe_split: cluster join stays equi; bucket is a projection") {
    val p = plan("corpus_leakage_safe_split")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the split decision itself must remain the pure md5 projection —
    // no exchange introduced after the cluster join
    assert(p.contains("md5"), p)
  }

  test("corpus_source_overlap: inverted shingle join, never a doc cartesian") {
    val p = plan("corpus_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("corpus_source_overlap_minhash: signature mins combine map-side") {
    val p = plan("corpus_source_overlap_minhash")
    // the whole point vs the exact twin: per-source state is the
    // 128-component min signature with a partial (map-side) phase, not a
    // (source, shingle) distinct shuffle
    assert(p.contains("partial_min"), p)
    assert(!p.contains("partial_first"), p)
    // the only cartesian is the |sources|²-bounded signature compare,
    // which must sit ABOVE the aggregation (inputs are aggregated rows)
    assert(!p.contains("SortMergeJoin"), s"minhash path must not shuffle-join:\n$p")
  }

  test("text_chunk_windows: pure projection+explode, zero exchanges") {
    val p = plan("text_chunk_windows")
    assert(!p.contains("Exchange"), s"chunking must be shuffle-free:\n$p")
    assert(p.contains("Generate explode"), p)
  }

  test("text_quality_threshold: sketch cutoff with map-side partials; 1-row broadcast") {
    val p = plan("text_quality_threshold")
    // the cutoff must come from the mergeable approx-percentile sketch
    // (partial phase), applied via a single-row broadcast — never a
    // global sort/rank like the exact anchor
    assert(p.contains("partial_approx_percentile"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"no global rank in the scale path:\n$p")
  }

  test("text_decontaminate / dedup_novel_batch: sketch filters are zero-exchange scans") {
    // both replace a join against an unbounded side (benchmark shingles /
    // the 100 TB history) with a broadcast sketch + pure projection —
    // the plan must be a filtered scan with NO exchange at all
    for (name <- Seq("text_decontaminate", "dedup_novel_batch")) {
      val p = plan(name)
      assert(!p.contains("Exchange"), s"$name must not shuffle:\n$p")
      assert(!p.contains("Join"), s"$name must not join:\n$p")
    }
  }

  test("corpus_shard_texts: one exchange — source partitioning serves both window and agg") {
    val p = plan("corpus_shard_texts")
    // the pack window hashes on source; hash(source) already clusters
    // (source, shard), so the assembly aggregation must NOT add a second
    // exchange
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
  }

  test("dedup_novel_store: the store-fed novelty probe is a pure scan + filter") {
    val p = plan("dedup_novel_store")
    // the whole point of the persisted bloom: the probe's history side
    // is broadcast bloom BYTES — no join, no exchange, no history scan;
    // the only relation read is today's batch
    assert(!p.contains("Join"), s"store probe must not join:\n$p")
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 0, s"store probe must not shuffle, got $exchanges:\n$p")
    val scans = p.linesIterator.count(_.contains("FileScan"))
    assert(scans == 1, s"exactly the batch scan expected, got $scans:\n$p")
  }

  test("multimodal_av_novelty: store probes partition-prune on kind at the scan") {
    val p = plan("multimodal_av_novelty")
    // the signature store is PARTITIONED BY kind; each kind's banding
    // probe must read only its partition directories — pruning resolved
    // at planning, visible as a kind PartitionFilter on the store scan
    for (k <- Seq("image", "video", "audio"))
      assert(p.contains(s"(kind#") && p.contains(s"= $k)"),
        s"store scan for kind=$k is not partition-pruned:\n${p.take(4000)}")
    val pruned = p.linesIterator.count(l =>
      l.contains("PartitionFilters") && l.contains("kind#"))
    assert(pruned >= 3, s"expected >=3 kind-pruned store scans, got $pruned")
  }

  test("multimodal_shard_assembly: payload bytes shuffle once into their shard") {
    val p = plan("multimodal_shard_assembly")
    // exchange 1: the fixture source spread (syntheticMedia's metadata
    // repartition — 16-byte rows, not payloads); exchange 2: the pack
    // window's hash(kind), which is where payload bytes move into their
    // shard's reducer. hash(kind) already clusters (kind, shard), so
    // the assembly aggregation must NOT add a third exchange.
    val exchanges = p.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("Reused"))
    assert(exchanges == 2, s"expected exactly 2 exchanges, got $exchanges:\n$p")
  }

  test("text_vocab_hll: HLL sketches merge map-side; no distinct expand") {
    val p = plan("text_vocab_hll")
    // the whole point vs the exact twin: per-group state is a sketch with
    // a partial (map-side) phase, not a shuffled (source, term) distinct
    assert(p.contains("partial_approx_count_distinct"), p)
    assert(!p.contains("Expand"), s"no count-distinct expand:\n$p")
  }

  test("multimodal_phash_dedup: candidates come from a chunk equi-join, never a cartesian") {
    val p = plan("multimodal_phash_dedup")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin")
      || p.contains("ShuffledHashJoin"), s"expected an equi-join on chunk keys:\n$p")
  }

  test("unpartitioned windows are confined to the two documented sites") {
    // A `Window.orderBy` without partitionBy plans as a single-partition
    // WindowExec — the one shape that cannot scale. Exactly two sites are
    // allowed, both in TextQueries.scala and both deliberate: the
    // qualityBudget EXACT oracle anchor (global rank; production path is
    // the approx-percentile qualityThresholdVs) and the census rank that
    // numbers only the k post-limit rows. Any new unpartitioned window
    // must either partition or justify itself here.
    import scala.jdk.CollectionConverters._
    val mainDir = java.nio.file.Paths.get("src/main/scala/graft")
    val sites = java.nio.file.Files.walk(mainDir).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { p =>
        val lines = java.nio.file.Files.readAllLines(p).asScala
        lines.zipWithIndex.collect {
          case (l, i) if l.contains("Window.orderBy") => s"${p.getFileName}:${i + 1}"
        }
      }.toSeq.sorted
    assert(sites.size == 2 && sites.forall(_.startsWith("TextQueries.scala")),
      s"unpartitioned-window sites moved or multiplied — re-justify: $sites")
  }

  test("text_top_ngrams: census rank window runs on k limited rows, not the vocabulary") {
    val p = plan("text_top_ngrams")
    // global top-k must plan as TakeOrderedAndProject (bounded per-partition
    // heaps), with the rank window AFTER the limit
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Window"), p)
  }

  test("multimodal_video_neardup: frame matches come from a banded equi-join, never a cartesian") {
    val p = plan("multimodal_video_neardup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"frame candidacy must be the chunk equi-join:\n$p")
    // the signature-overlap aggregation keeps a partial (map-side) phase
    assert(p.contains("partial_count"), p)
  }

  test("text_quality_classifier: scoring is a shuffle-free narrow map") {
    // train driver-side first (bounded epochs at this SF), then pin the
    // APPLY pass plan: scan -> featurize/score map, zero exchanges
    val docs = Tables.documents(spark, dir)
    val model = graft.text.QualityClassifier.train(docs, epochs = 2)
    val scored = graft.text.QualityClassifier.score(docs, model)
    val p = scored.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), s"the corpus-scale apply pass must not shuffle:\n$p")
  }

  test("text_contamination_bloom: membership is a filter, not a join") {
    // the exact twin carries TWO joins (bench-broadcast hit join + the
    // tot⟕hit assembly); the bloom form must replace the first with a
    // pre-aggregation filter, leaving exactly the assembly join
    val p = plan("text_contamination_bloom")
    val n = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin") || l.contains("CartesianProduct") ||
        l.contains("BroadcastNestedLoopJoin"))
    assert(n == 1, s"expected exactly the tot-hit assembly join, found $n:\n$p")
  }

  test("layout_partition_prune: the day scan resolves as a partition filter") {
    // running the query fn writes the layout, so the plan below reads it
    val df = SparkEntry.queries("layout_partition_prune")(spark, dir)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters: ["), p)
    assert(p.linesIterator.exists(l =>
      l.contains("PartitionFilters") && l.contains("event_date")),
      s"day predicate must prune partitions at planning time:\n$p")
    // and the day predicate must NOT fall through to a row-level pushed
    // filter — the scan line carries it ONLY in PartitionFilters
    val scanLine = p.linesIterator.find(_.contains("PartitionFilters")).get
    assert(scanLine.contains("PushedFilters: []"), scanLine)
  }

  test("layout: bucketed join is exchange-free below the join") {
    val tmp = s"${sys.props("java.io.tmpdir")}/graft_layout/planspec"
    graft.io.Layout.writeBucketed(
      Tables.orders(spark, dir).select(col("o_custkey"), col("o_totalprice")),
      "planspec_orders_bkt", s"$tmp/orders", "o_custkey", 4)
    graft.io.Layout.writeBucketed(
      Tables.customer(spark, dir).select(col("c_custkey"), col("c_mktsegment")),
      "planspec_customer_bkt", s"$tmp/customer", "c_custkey", 4)
    val o = spark.table("planspec_orders_bkt")
    val c = spark.table("planspec_customer_bkt")
    val j = o.join(c.hint("merge"), o("o_custkey") === c("c_custkey"))
    val p = j.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed sides must feed the join without a shuffle:\n$p")
  }

  test("corpus_pack_sequences: exactly the window's one exchange, no joins") {
    val p = plan("corpus_pack_sequences")
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1,
      s"layout math must ride the single per-source window exchange, found $exchanges:\n$p")
    assert(!p.contains("Join"), p)
  }

  test("events_follow_pairs: stream-shaped range join stays equi-keyed") {
    val p = plan("events_follow_pairs")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"user_id must be the join key with the time range as predicate:\n$p")
  }

  test("text_boilerplate_scrub: hash-keyed equi-joins only, partial distinct phases") {
    val p = plan("text_boilerplate_scrub")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // line doc-frequency must keep its partial (map-side) phase
    assert(p.contains("partial_count"), p)
  }

  test("q30: the outer join reuses both aggregations' partitioning") {
    val p = plan("q30_full_outer")
    // one exchange per side for its keyed aggregation — and NONE for the
    // join itself: both sides arrive already hash-partitioned on the key
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 2, s"expected 2 exchanges (agg sides only), got $exchanges:\n$p")
    assert(p.contains("FullOuter"), p)
    // the price threshold reaches the orders scan
    assert(p.contains("GreaterThan(o_totalprice"), p)
  }

  test("q31: the correlated-subquery twin plans as one aggregate + equi-join") {
    val p = plan("q31_scalar_subquery")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("partial_count") || p.contains("partial_sum"), p)
  }

  test("q34: the lateral correlated limit decorrelates to a window + one join") {
    // Catalyst must rewrite the per-customer LATERAL ... LIMIT 2 into a
    // per-key rank filter joined ONCE with the outer side — a per-row
    // nested-loop re-execution of the subquery (the naive lateral
    // strategy) would be the classic at-scale killer
    val p = plan("q34_lateral")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    val joins = p.linesIterator.count(l =>
      l.contains("HashJoin") || l.contains("SortMergeJoin"))
    assert(joins == 1, s"expected exactly one equi-join, got $joins:\n$p")
    assert(p.contains("Window"), s"correlated limit must become a rank window:\n$p")
  }

  test("multimodal_phash_novelty: history candidacy is a chunk equi-join, never a cartesian") {
    val p = plan("multimodal_phash_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"novelty candidacy must be the banding equi-join:\n$p")
  }

  test("text_perplexity_buckets: no cartesian; tiering window is per-source") {
    val p = plan("text_perplexity_buckets")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // the ntile window must be hash-partitioned by source, not global
    assert(p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("source")), p)
  }

  test("crossModalAlignment over stored pairs: shuffle-free projection + filter") {
    // the 100 TB contract: pairs arrive stored (one row per image-text
    // pair); the keep-if-aligned gate must plan as scan -> project ->
    // filter with ZERO exchanges. (The oracle query's id-join pairing is
    // fixture derivation, not the operator.)
    val paired = s"${sys.props("java.io.tmpdir")}/graft_planspec_pairs"
    graft.ops.OpsQueries.crossModalPairs(spark, dir)
      .write.mode("overwrite").parquet(paired)
    val kept = graft.ops.SimilaritySearch.crossModalAlignment(
      spark.read.parquet(paired))
    val p = kept.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"),
      s"the corpus-scale alignment pass must not shuffle:\n$p")
  }

  test("url_canonicalize: pure projection; url dedup keeps its partial agg phase") {
    val pc = plan("url_canonicalize")
    assert(!pc.contains("Exchange"),
      s"canonicalization must be a shuffle-free projection:\n$pc")
    assert(!pc.contains("BatchEvalPython") && !pc.contains("ScalaUDF"),
      s"canonicalizeUrl must stay a native codegen'd expression:\n$pc")
    val pd = plan("dedup_url_keepfirst")
    assert(pd.contains("partial_count") || pd.contains("partial_min"),
      s"keep-first dedup must map-side combine:\n$pd")
    assert(!pd.contains("CartesianProduct"), pd)
  }

  test("store-novelty candidacy (av): bounded postings equi-join, never a cartesian") {
    val p = plan("multimodal_av_novelty")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"matchedIds candidacy must be the bounded banding equi-join:\n$p")
    // the bounded posting aggregate (BoundedIdList over history sims)
    // must be present — a revert to the raw chunked join would drop it
    assert(p.contains("bounded_id_list"),
      s"history candidacy must build bounded posting lists:\n$p")
  }
}
