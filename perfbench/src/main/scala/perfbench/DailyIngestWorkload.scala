package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import graft.examples.DailyIngest
import graft.ops.OpsQueries
import graft.text.TextQueries
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** `daily_ingest`: the five-store keystone, then the IVF lifecycle on the
  * embedding store it built. One crawl day is ingested into a fresh root
  * (every store is created), the probe-only day then runs the full
  * per-day computation for "today" against the finished stores, and the
  * day's IVF store takes today's vectors and goes through compaction, PQ,
  * rebuild and split with searches in between. Every pass gets a new
  * root, so the ingest ledger can never short-circuit a timed day. */
final class DailyIngestWorkload(tiny: Boolean, digestDir: File) extends Workload {
  val name = "daily_ingest"
  /** the sf0.01 fixture's size: 500 docs, each with a vector */
  val nDocs: Int = if (tiny) 150 else 500
  /** ingested days; day `nDays` is "today", which carries the planted
    * re-crawls, near-duplicates and paraphrases */
  val nDays = 1
  val nQueries: Int = if (tiny) 20 else 200
  val cfg = DailyIngest.IngestConfig()
  val ivf = new IvfLifecycle(nprobe = 4)

  type In = DailyIngestWorkload.In
  type Out = DailyIngestWorkload.Out
  import DailyIngestWorkload.{In, Out}

  def generate(spark: SparkSession, seed: Long, dir: File): In = {
    val data = new File(dir, "crawl").getPath
    Inputs.writeCrawl(spark, data, nDocs, nDocs, seed)
    // the seed rotates the base rows' day assignment; planted rows (ids
    // far above the base range) keep theirs
    val shift = math.floorMod(seed, (nDays + 1).toLong).toInt
    def rotate(df: DataFrame, idCol: String) = df.withColumn("day",
      when(col(idCol) < nDocs, pmod(col("day") + shift, lit(nDays + 1)))
        .otherwise(col("day")).cast("int"))
    val emb = rotate(OpsQueries.dailyEmb(spark, data, nDays), "doc_id").localCheckpoint()
    val qv = Inputs.crawlVectors(nQueries, seed + 3, seed).zipWithIndex
      .map { case (v, i) => (Inputs.QueryIdBase + i, v) }.toSeq
    In(seed,
      rotate(OpsQueries.dailyDocs(spark, data, nDays), "doc_id").localCheckpoint(),
      rotate(OpsQueries.dailyMedia(spark, data, nDays), "media_id").localCheckpoint(),
      emb, OpsQueries.dailyBench(spark, data).localCheckpoint(),
      emb.where(col("day") === nDays).count(),
      Inputs.vectorFrame(spark, qv.map(_._1).toArray, qv.map(_._2).toArray,
        "doc_id", "embedding", spark.sparkContext.defaultParallelism),
      qv)
  }

  /** No warm-up: an ingest day is bound by job count, so a warm-up costs
    * as much as the pass itself, and the benchmark's time budget has no
    * room for it. Timed passes run in a JVM only the input generation
    * has warmed, as a daily batch job does. */
  def warmUp(spark: SparkSession, in: In, dir: File): Unit = ()

  def pass(in: In, ctx: PassCtx): Out = {
    val spark = ctx.spark
    val root = new File(ctx.dir, "root").getPath
    val bloom = ctx.write("ingest.benchContaminationBloom")(
      TextQueries.benchContaminationBloom(in.bench, fpp = 1e-4))
    val (counts, txt, med) = try {
      val (docs, media, emb) = in.day(0)
      val counts = ctx.write("ingest.ingestDay")(DailyIngest.ingestDay(spark, docs,
        media, in.bench, root, 0, cfg, benchBloom = Some(bloom), dayEmb = Some(emb)))
      val (tDocs, tMedia, tEmb) = in.day(nDays)
      val (txt, med) = ctx.read("ingest.probeDay") {
        val (t, m) = DailyIngest.probeDay(spark, tDocs, tMedia, in.bench, root,
          Some(bloom), Some(tEmb), cfg)
        (t.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq,
          m.select("media_id").collect().map(_.getLong(0)).sorted.toSeq)
      }
      (counts, txt, med)
    } finally bloom.destroy()
    val files = DailyIngestWorkload.dataFiles(new File(root))
    // the day's index takes today's vectors and is maintained and served
    val ivfOut = ivf.pass(ctx, DailyIngest.embStore(root), in.day(nDays)._3, in.queries,
      "doc_id", "embedding", 2 * cfg.semNlist, counts.cleanKept + in.todayVecs)
    Out(root, counts, txt, med, files, ivfOut)
  }

  def verify(in: In, out: Out, ctx: PassCtx): Unit = {
    val c = out.counts
    val text = Seq(c.incoming, c.urlKept, c.exactKept, c.cleanKept, c.textKept)
    val media = Seq(c.mediaIncoming, c.mediaQualityKept, c.mediaKept)
    Seq("text" -> text, "media" -> media).foreach { case (what, funnel) =>
      ctx.check(s"ingest $what funnel never grows",
        funnel.zip(funnel.tail).forall { case (a, b) => b <= a }, funnel.mkString(" ≥ "))
    }
    ctx.check("ingest day 0 has input", c.incoming > 0 && c.mediaIncoming > 0, c.toString)
    // every run of one seed must give identical counts and survivors: the
    // first run of a build records them, later runs of that build compare
    val digest = s"$c text=${DailyIngestWorkload.hash(out.textIds)}/${out.textIds.size} " +
      s"media=${DailyIngestWorkload.hash(out.mediaIds)}/${out.mediaIds.size}\n"
    val f = new File(digestDir, s"$name-seed${in.seed}.txt")
    if (!f.exists) {
      digestDir.mkdirs()
      Files.write(f.toPath, digest.getBytes(StandardCharsets.UTF_8))
    }
    val recorded = new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8)
    ctx.check("ingest is deterministic per seed", recorded == digest,
      s"recorded ${recorded.trim}, got ${digest.trim}")
    ctx.metric("ingest.text_keep_frac", c.textKept.toDouble / math.max(1L, c.incoming))
    ctx.metric("ingest.media_keep_frac", c.mediaKept.toDouble / math.max(1L, c.mediaIncoming))

    val store = IvfLifecycle.storeVectors(ctx.spark, DailyIngest.embStore(out.root))
    val appended = in.day(nDays)._3.select("doc_id").collect().map(_.getLong(0))
    ctx.check("ivf store holds today's appended vectors", appended.forall(store.contains),
      s"${appended.count(id => !store.contains(id))} of ${appended.length} missing")
    ivf.verify(ctx, out.ivf, nQueries, IvfLifecycle.exactTopK(store, in.queryVecs, ivf.k))
  }

  def layerMetrics(in: In, out: Out, ctx: PassCtx): Unit = {
    ctx.metric("ingest.bloom_s", ctx.callSeconds("ingest.benchContaminationBloom"))
    ctx.metric("ingest.day0_s", ctx.callSeconds("ingest.ingestDay"))
    ctx.metric("ingest.probe_s", ctx.callSeconds("ingest.probeDay"))
    val day = ctx.tracer.get.spans.find(_.name == "ingest.ingestDay").get
    val jobs = ctx.jobsUnder("ingest.ingestDay")
    ctx.metric("ingest.jobs_per_day", jobs.size.toDouble)
    ctx.metric("ingest.gap_per_day_s",
      Intervals.uncovered(day.interval, jobs.map(_.interval)) / 1e9)
    ctx.metric("ingest.files_written", out.filesWritten.toDouble)
    ivf.layerMetrics(ctx, out.ivf, DailyIngest.embStore(out.root),
      in.queryVecs.map(_._2).toArray)
  }
}

object DailyIngestWorkload {
  final case class In(seed: Long, docs: DataFrame, media: DataFrame,
      emb: DataFrame, bench: DataFrame, todayVecs: Long, queries: DataFrame,
      queryVecs: Seq[(Long, Array[Double])]) {
    def day(d: Int): (DataFrame, DataFrame, DataFrame) = (
      docs.where(col("day") === d), media.where(col("day") === d),
      emb.where(col("day") === d).drop("day"))
  }
  final case class Out(root: String, counts: DailyIngest.DayCounts, textIds: Seq[Long],
      mediaIds: Seq[Long], filesWritten: Int, ivf: IvfLifecycle.Out)

  /** Data files under `root` (hidden and bookkeeping files excluded). */
  def dataFiles(f: File): Int =
    if (f.isFile) { if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0 else 1 }
    else Option(f.listFiles).toSeq.flatten.map(dataFiles).sum

  def hash(ids: Seq[Long]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ids.foreach(i => md.update(java.nio.ByteBuffer.allocate(8).putLong(i).array()))
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }
}
