package graft

import graft.examples.DailyIngest
import graft.ops.{IvfIndex, MinHashBandStore, NoveltyBloomStore, OpsQueries}
import graft.multimodal.{Multimodal, SignatureStore}
import graft.text.TextQueries
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ad-hoc stage profiler for the daily-ingest keystone's PROBE path (the
  * steady-state cost every bench rep of pipeline_daily_ingest /
  * pipeline_takedown pays). Not a correctness gate; opt-in:
  *
  *   GRAFT_PROFILE=1 sbt "testOnly graft.DailyProfileSpec"
  *
  * Builds its OWN local[32] session (bench-comparable parallelism — the
  * shared TestSpark session is local[4]) so run it alone, not with the
  * full suite. */
class DailyProfileSpec extends AnyFunSuite {
  private val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

  private def time[T](label: String)(f: => T): T = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[dprofile] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
    r
  }

  test("daily probe stage timing") {
    assume(sys.env.contains("GRAFT_PROFILE"), "profiling is opt-in: GRAFT_PROFILE=1")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[32]")
      .appName("graft-daily-profile")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    val D = 3
    val root = "/tmp/graft_profile_root"
    val docs = OpsQueries.dailyDocs(s, dir, D)
    val media = OpsQueries.dailyMedia(s, dir, D)
    val emb = OpsQueries.dailyEmb(s, dir, D)
    val bench = OpsQueries.dailyBench(s, dir)
    val cfg = DailyIngest.IngestConfig(
      bloomCapacity = math.max(1000000L, 20L * Tables.documents(s, dir).count()))

    // ---- fixture materialization cost (paid by every stage that reads it)
    time("fixture docs(day=3) noop")(
      docs.where(col("day") === D).write.format("noop").mode("overwrite").save())
    time("fixture media(day=3) noop")(
      media.where(col("day") === D).write.format("noop").mode("overwrite").save())
    time("fixture emb(day=3) noop")(
      emb.where(col("day") === D).write.format("noop").mode("overwrite").save())
    time("fixture docs(day=3) noop AGAIN")(
      docs.where(col("day") === D).write.format("noop").mode("overwrite").save())
    time("fixture media(day=3) noop AGAIN")(
      media.where(col("day") === D).write.format("noop").mode("overwrite").save())

    // ---- rep-1 cost: the 3-day ingest
    time("ingest run (3 days)")(
      DailyIngest.run(s, docs, media, bench, root, D,
        cfg, emb = Some(emb)))

    val bloom = time("bench bloom build")(
      TextQueries.benchContaminationBloom(bench, fpp = 1e-4))

    // ---- steady-state probe day, end to end, twice (rep-2 shape)
    (1 to 2).foreach { i =>
      time(s"probeDay end-to-end #$i")(CacheScope(s) {
        val (txt, med) = DailyIngest.probeDay(s,
          docs.where(col("day") === D), media.where(col("day") === D), bench, root,
          benchBloom = Some(bloom),
          dayEmb = Some(emb.where(col("day") === D).drop("day")), cfg = cfg)
        txt.count() + med.count()
      })
    }

    // ---- construction vs execution split, plain vs checkpointed inputs
    val dayDocs = docs.where(col("day") === D)
    val dayMedia = media.where(col("day") === D)
    val dayEmb = emb.where(col("day") === D).drop("day")
    (1 to 2).foreach { i =>
      CacheScope(s) {
        val (t1, m1) = time(s"plain construction #$i")(
          DailyIngest.probeDay(s, dayDocs, dayMedia, bench, root,
            benchBloom = Some(bloom), dayEmb = Some(dayEmb), cfg = cfg))
        time(s"plain execution #$i")(t1.count() + m1.count())
      }
    }
    val ddCp = time("checkpoint day inputs")( (
      dayDocs.localCheckpoint(true),
      dayMedia.localCheckpoint(true),
      dayEmb.localCheckpoint(true)) )
    (1 to 2).foreach { i =>
      CacheScope(s) {
        val (t2, m2) = time(s"cp construction #$i")(
          DailyIngest.probeDay(s, ddCp._1, ddCp._2, bench, root,
            benchBloom = Some(bloom), dayEmb = Some(ddCp._3), cfg = cfg))
        time(s"cp execution #$i")(t2.count() + m2.count())
      }
    }
    bloom.destroy()
  }
}
