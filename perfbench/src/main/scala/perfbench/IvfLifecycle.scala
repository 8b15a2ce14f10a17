package perfbench

import java.io.File
import graft.ops.IvfIndex
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The IVF index lifecycle, run on an existing store: one append batch,
  * then compaction, the PQ sidecar, a rebuild to twice the cells and a
  * hot-cell split (the write path), with exact-rescore and PQ-ADC top-k
  * searches around them (the read path). One layer serves both sides, so
  * a gain on one that costs the other shows up. */
final class IvfLifecycle(val nprobe: Int, val k: Int = 10) {
  /** Recall floors well under what the index reaches on the benchmark's
    * inputs: a miss means search is broken, not that recall drifted. */
  val recallFloor = 0.8
  val pqRecallFloor = 0.3

  import IvfLifecycle.Out

  /** `expectedRows` sizes the split threshold: split a cell holding more
    * than twice the mean after the rebuild to `rebuildNlist` cells. */
  def pass(ctx: PassCtx, dir: String, batch: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, rebuildNlist: Int, expectedRows: Long): Out = {
    val spark = ctx.spark
    def search(name: String) = ctx.read(name)(IvfIndex.search(spark, dir, queries,
      idCol, vecCol, k = k, nprobe = nprobe).collect())
    ctx.write("ivf.append")(IvfIndex.append(batch, dir, idCol, vecCol))
    // the append fragmented the postings; this search reads them so
    val filesMax = if (ctx.traced) IvfLifecycle.postingsFilesMax(dir) else 0
    val before = search("ivf.search.before_compact")
    ctx.write("ivf.compact")(IvfIndex.compactPostings(spark, dir))
    val after = search("ivf.search")
    ctx.write("ivf.build_pq")(IvfIndex.buildPq(spark, dir))
    val pq = ctx.read("ivf.search_pq")(IvfIndex.searchPqAdc(spark, dir, queries,
      idCol, vecCol, k = k, nprobe = nprobe).collect())
    ctx.write("ivf.rebuild")(IvfIndex.rebuild(spark, dir, rebuildNlist))
    ctx.write("ivf.split")(IvfIndex.splitCells(spark, dir,
      math.max(1L, 2L * expectedRows / rebuildNlist), maxSplitCells = 1))
    val rebuilt = search("ivf.search_rebuilt")
    Out(before, after, pq, rebuilt, filesMax)
  }

  /** `truth` is the exact top-k of every query over the store's final
    * vectors, keyed by query id. */
  def verify(ctx: PassCtx, out: Out, queries: Int, truth: Map[Long, Set[Long]]): Unit = {
    Seq("search" -> out.search, "search before compaction" -> out.beforeCompact,
        "pq search" -> out.pq, "search after rebuild" -> out.rebuilt).foreach {
      case (what, rows) =>
        ctx.check(s"ivf $what rows = queries × k", rows.length == queries * k,
          s"${rows.length} rows, want ${queries * k}")
    }
    def triples(rows: Array[Row]) =
      rows.map(r => (r.getAs[Long]("i"), r.getAs[Long]("j"), r.getAs[Int]("rank"))).sorted.toSeq
    ctx.check("ivf compaction leaves search unchanged",
      triples(out.beforeCompact) == triples(out.search), "results differ across compaction")
    Seq(("ivf.recall_at_10", out.search, recallFloor),
        ("ivf.pq_recall_at_10", out.pq, pqRecallFloor),
        ("ivf.recall_rebuilt_at_10", out.rebuilt, recallFloor)).foreach {
      case (name, rows, floor) =>
        val r = IvfLifecycle.recall(rows, truth)
        ctx.check(s"$name >= $floor", r >= floor, s"recall $r")
        ctx.metric(name, r)
    }
  }

  def layerMetrics(ctx: PassCtx, out: Out, dir: String, queryVecs: Array[Array[Double]]): Unit = {
    Seq("append", "compact", "build_pq", "rebuild", "split").foreach { op =>
      ctx.metric(s"ivf.${op}_s", ctx.callSeconds(s"ivf.$op"))
      ctx.metric(s"ivf.jobs_$op", ctx.jobsUnder(s"ivf.$op").size.toDouble)
    }
    ctx.metric("ivf.search_s", ctx.callSeconds("ivf.search"))
    ctx.metric("ivf.search_pq_s", ctx.callSeconds("ivf.search_pq"))
    ctx.metric("ivf.search_rebuilt_s", ctx.callSeconds("ivf.search_rebuilt"))
    ctx.metric("ivf.postings_files_max", out.filesMax.toDouble)
    ctx.metric("ivf.scan_rows_per_query",
      IvfLifecycle.scanRowsPerQuery(ctx.spark, dir, queryVecs, nprobe))
  }
}

object IvfLifecycle {

  final case class Out(beforeCompact: Array[Row], search: Array[Row],
      pq: Array[Row], rebuilt: Array[Row], filesMax: Int)

  /** The store's live vectors (id → vector), duplicates collapsed. */
  def storeVectors(spark: SparkSession, dir: String): Map[Long, Array[Double]] =
    spark.read.parquet(s"$dir/postings.parquet").select("id", "v").distinct().collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap

  /** Exact cosine top-k of each query over `corpus`, self-matches (same
    * id) excluded as the index excludes them. */
  def exactTopK(corpus: Map[Long, Array[Double]], queries: Seq[(Long, Array[Double])],
      k: Int): Map[Long, Set[Long]] = {
    val ids = corpus.keys.toArray
    val unit = ids.map(i => Inputs.normalize(corpus(i)))
    queries.map { case (qid, q0) =>
      val q = Inputs.normalize(q0)
      val sims = unit.map { v =>
        var s = 0.0
        var i = 0
        while (i < v.length) { s += v(i) * q(i); i += 1 }
        s
      }
      qid -> ids.indices.filter(i => ids(i) != qid).sortBy(i => -sims(i)).take(k)
        .map(ids(_)).toSet
    }.toMap
  }

  /** Mean share of each query's exact top-k that the result returned. */
  def recall(rows: Array[Row], truth: Map[Long, Set[Long]]): Double = {
    val got = rows.groupBy(_.getAs[Long]("i")).map { case (q, rs) =>
      q -> rs.map(_.getAs[Long]("j")).toSet
    }
    val hits = truth.toSeq.map { case (q, exact) =>
      (got.getOrElse(q, Set.empty[Long]) intersect exact).size
    }.sum
    hits.toDouble / math.max(1, truth.values.map(_.size).sum)
  }

  /** Largest number of data files any one cell of the raw postings has. */
  def postingsFilesMax(dir: String): Int =
    Option(new File(dir, "postings.parquet").listFiles).toSeq.flatten
      .filter(_.getName.startsWith("cell="))
      .map(c => Option(c.listFiles).toSeq.flatten.count(f =>
        f.getName.endsWith(".parquet") && !f.getName.startsWith(".")))
      .maxOption.getOrElse(0)

  /** Postings rows a search compares each query against: the rows of its
    * `nprobe` nearest cells, routed as the index routes (squared
    * euclidean to the raw centers, ties to the lower cell). */
  def scanRowsPerQuery(spark: SparkSession, dir: String,
      qs: Array[Array[Double]], nprobe: Int): Double = {
    val centers = IvfIndex.loadCenters(spark, dir)
    val sizes = spark.read.parquet(s"$dir/postings.parquet")
      .groupBy("cell").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val perQuery = qs.map { q =>
      centers.indices.map { c =>
        var s = 0.0
        var i = 0
        while (i < q.length) { val df = q(i) - centers(c)(i); s += df * df; i += 1 }
        (s, c)
      }.sorted.take(nprobe).map(p => sizes.getOrElse(p._2, 0L)).sum
    }
    perQuery.sum.toDouble / math.max(1, qs.length)
  }
}
