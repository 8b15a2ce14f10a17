package graft.ops

import graft.TestSpark
import graft.examples.CorpusPipeline
import org.scalatest.funsuite.AnyFunSuite

/** Smoke test for the end-to-end corpus-assembly example: runs the full
  * gopherRules → bloom-decontaminate → (jaccardPairs ∪ semanticDupPairs)
  * → retain → dupSpans-filter → split → mixture → stratified →
  * packShards composition on the sf0.001 fixtures and asserts the
  * cross-stage invariants that individual operator specs can't see. */
class CorpusPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pipeline composes end-to-end with consistent stage counts") {
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val r = CorpusPipeline.run(spark, dir)
    val c = r.counts
    assert(c.docs > 0)
    // hygiene stages only shrink the corpus, and each must keep SOME of
    // it (a filter that empties the fixture is a bug, not hygiene)
    assert(c.qualityPass <= c.docs && c.qualityPass > 0)
    assert(c.contaminated >= 0)
    assert(c.clean <= c.qualityPass && c.clean > 0)
    // dedup never grows the corpus, and a PAIR relation implies at least
    // one removal when nonempty
    assert(c.retained <= c.clean)
    assert(c.dupPairs == 0 || c.retained < c.clean)
    // the detector union can only add pairs beyond the lexical ones
    assert(c.semPairs >= 0 && c.dupPairs >= c.semPairs)
    // the boilerplate filter drops from the retained set, never below it
    assert(c.boilerplateDropped >= 0 && c.boilerplateDropped <= c.retained)
    // split partitions the filtered corpus exactly
    assert(c.train + c.valN + c.test == c.retained - c.boilerplateDropped)
    // mixing only filters the train split
    assert(c.mixed <= c.train && c.mixed > 0)
    // the mix is TEMPERATURE-DERIVED (α=0.5, budget = train/2): rates
    // exist for every train source, live in (0, 1], and the mixed count
    // matches applying them through an INDEPENDENT reimplementation of
    // the unitBucket decision (jvm md5, not the Spark expression) to the
    // train rows — the derived rates and the kept rows must agree exactly
    assert(r.rates.nonEmpty && r.rates.values.forall(v => v > 0.0 && v <= 1.0),
      s"derived rates out of range: ${r.rates}")
    def bucket(key: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$key:mix".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 4), 16)
    }
    val expectedMixed = r.train.select("doc_id", "source").collect().count { row =>
      val cut = math.round(r.rates(row.getString(1)) * 65536).toInt
      bucket(row.getLong(0).toString) < cut
    }
    assert(c.mixed == expectedMixed.toLong,
      s"mixed count ${c.mixed} must equal the hash-oracle expectation $expectedMixed")
    // α=0.5 upweights low-resource sources: among train sources, smaller
    // n_s may never get a LOWER rate than a larger n_s
    val bySource = r.train.groupBy("source").count()
      .collect().map(row => row.getString(0) -> row.getLong(1))
    for ((sa, na) <- bySource; (sb, nb) <- bySource if na < nb)
      assert(r.rates(sa) >= r.rates(sb),
        s"temperature inversion: $sa(n=$na) rate ${r.rates(sa)} < $sb(n=$nb) rate ${r.rates(sb)}")
    // LEAKAGE GUARD: no residual near-dup cluster (J >= 0.3 band among
    // the split corpus — the band the pipeline splits on) may straddle
    // splits; memorization-adjacent pairs stay co-located
    import org.apache.spark.sql.functions.{col, countDistinct}
    val residualClusters = Dedup.canonicalize(
      Dedup.jaccardPairs(r.split, threshold = 0.3))
    val straddling = r.split.join(residualClusters,
        r.split("doc_id") === residualClusters("id"))
      .groupBy("canonical_id")
      .agg(countDistinct(col("split")).as("n_splits"))
      .where(col("n_splits") > 1).count()
    assert(straddling == 0, s"$straddling near-dup clusters straddle splits")
    // stratified sample is capped at k per (source, lang)
    val strata = r.packed.sparkSession.read
      .parquet(s"$dir/documents.parquet")
      .select("source", "lang").distinct().count()
    assert(c.evalSample <= 3 * strata)
    // every mixed doc lands in exactly one shard row
    assert(r.packed.count() == c.mixed)
    assert(c.shards > 0 && c.shards <= c.mixed)
    // shard ids are contiguous from 0 within each source (prefix-sum div)
    import org.apache.spark.sql.functions._
    val bad = r.packed.groupBy("source")
      .agg(min("shard").as("mn"), max("shard").as("mx"),
        countDistinct("shard").as("n"))
      .where(col("mn") =!= 0 || col("n") =!= col("mx") + 1)
      .count()
    assert(bad == 0, "shard ids must be contiguous 0..max per source")
  }

  // phase 1 of an ingest day owns its caches: it leaves the persistent
  // RDDs as it found them on return and when the day throws part-way
  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def computeDay0(mediaOf: org.apache.spark.sql.DataFrame =>
      org.apache.spark.sql.DataFrame): Unit = {
    import graft.examples.DailyIngest
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val root = java.nio.file.Files.createTempDirectory("di-release").toString
    val docs = OpsQueries.dailyDocs(spark, dir, 1).where(col("day") === 0)
    val media = mediaOf(OpsQueries.dailyMedia(spark, dir, 1).where(col("day") === 0))
    val bloom = graft.text.TextQueries.benchContaminationBloom(
      OpsQueries.dailyBench(spark, dir), fpp = 1e-4)
    try DailyIngest.ingestDayCompute(spark, docs, media, bloom, root, 0): Unit
    finally bloom.destroy()
  }

  test("ingestDayCompute leaves the persistent RDDs as it found them on return") {
    val before = persisted
    computeDay0(identity)
    assert(persisted == before)
  }

  test("ingestDayCompute leaves the persistent RDDs as it found them when the day throws") {
    import org.apache.spark.sql.functions._
    val before = persisted
    // the media branch is evaluated after the text survivors are
    // written, so the day's text caches are live when this row throws
    val e = intercept[Exception] {
      computeDay0(m => m.withColumn("content",
        when(col("media_id") === m.agg(min("media_id")).head.getLong(0),
          raise_error(lit("boom")).cast("binary")).otherwise(col("content"))))
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("boom")), e.toString)
    assert(persisted == before)
  }
}

/** Daily-ingest keystone invariants the gated query can't exercise:
  * crash-retry behavior of the two-phase ledger. */
class DailyIngestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import org.apache.spark.sql.functions._
  import graft.examples.DailyIngest

  private val dir = "/root/testdata/sf0.001"

  test("two-phase ledger: a phase-2 crash retry never recomputes against mutated stores") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val D = 2
    val root = java.nio.file.Files.createTempDirectory("di-crash").toString
    val docs = OpsQueries.dailyDocs(spark, dir, D)
    val media = OpsQueries.dailyMedia(spark, dir, D)
    val bench = OpsQueries.dailyBench(spark, dir)
    // ingest day 0 normally; run day 1's PHASE 1 only — the state a
    // crash between the two phases leaves behind (.computed marker +
    // staged append inputs, no appends yet)
    DailyIngest.ingestDay(spark, docs.where(col("day") === 0),
      media.where(col("day") === 0), bench, root, 0)
    val benchBloom = graft.text.TextQueries.benchContaminationBloom(bench, fpp = 1e-4)
    val c1 = DailyIngest.ingestDayCompute(spark, docs.where(col("day") === 1),
      media.where(col("day") === 1), benchBloom, root, 1)
    val survivors1 = spark.read.parquet(DailyIngest.textOut(root, 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivors1.nonEmpty, "fixture sanity: day 1 must keep documents")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stagePath = new org.apache.hadoop.fs.Path(s"$root/_stage/day_1/clean")
    assert(fs.exists(stagePath),
      "phase 1 must stage the append inputs before any store mutates")
    // snapshot the staged inputs so the mid-phase-2 crash can be
    // replayed after a successful completion below
    val backup = new org.apache.hadoop.fs.Path(
      java.nio.file.Files.createTempDirectory("di-stage-bak").toString)
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(s"$root/_stage/day_1"), fs, backup,
      false, spark.sparkContext.hadoopConfiguration)
    // crash window A: retry from the between-phases state — the full
    // ingestDay must SKIP recomputation (phase 1 short-circuits on the
    // .computed marker; before the two-phase ledger this retry
    // recomputed against mutated stores, every probe saw day 1's own
    // appended content as history, shed everything, and permanently
    // overwrote the day's output empty)
    val cFull = DailyIngest.ingestDay(spark, docs.where(col("day") === 1),
      media.where(col("day") === 1), bench, root, 1)
    assert(cFull == c1, "completion must carry the recorded phase-1 counts")
    val mhRowsBefore = MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root)).count()
    // crash window B: the final marker write died MID-phase-2 — appends
    // (partially) applied, marker absent, staged inputs still on disk
    val donePath = new org.apache.hadoop.fs.Path(s"$root/_ledger/day_1")
    assert(fs.delete(donePath, false), "test setup: final marker must exist")
    // FileUtil.copy nests the source dir under an existing destination:
    // the snapshot lives at $backup/day_1, restore it under _stage/
    org.apache.hadoop.fs.FileUtil.copy(fs,
      new org.apache.hadoop.fs.Path(backup, "day_1"), fs,
      new org.apache.hadoop.fs.Path(s"$root/_stage"),
      false, spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(stagePath), "test setup: staged inputs restored")
    val c1retry = DailyIngest.ingestDay(spark, docs.where(col("day") === 1),
      media.where(col("day") === 1), bench, root, 1)
    // counts come from the .computed ledger, not a recompute
    assert(c1retry == c1, "retry must return the recorded phase-1 counts")
    val survivorsRetry = spark.read.parquet(DailyIngest.textOut(root, 1))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(survivorsRetry == survivors1,
      "retry must not overwrite the day's survivor output")
    // the re-appended band rows are the documented duplicate state that
    // compact() repairs — never silent loss: nothing disappears, and
    // compaction restores exactly the pre-retry row set
    val mhRowsAfter = MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root)).count()
    assert(mhRowsAfter >= mhRowsBefore,
      "phase-2 retry re-appends staged rows (compact-repairable), never drops")
    MinHashBandStore.compact(spark, DailyIngest.mhStore(root))
    assert(MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root)).count()
        == mhRowsBefore,
      "compact() must collapse the retry duplicates to the pre-retry set")
    // a completed day short-circuits fully: third call, stores untouched
    val sig3 = MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root)).count()
    DailyIngest.ingestDay(spark, docs.where(col("day") === 1),
      media.where(col("day") === 1), bench, root, 1)
    assert(MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root)).count() == sig3,
      "a day with its final marker must not touch any store")
  }

  test("phase-2 crash inside the FIRST embedding-store build: retry rebuilds from staged centers, drift monitoring intact") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val D = 1
    val root = java.nio.file.Files.createTempDirectory("di-emb-crash").toString
    val docs = OpsQueries.dailyDocs(spark, dir, D)
    val media = OpsQueries.dailyMedia(spark, dir, D)
    val emb = OpsQueries.dailyEmb(spark, dir, D)
    val bench = OpsQueries.dailyBench(spark, dir)
    val benchBloom = graft.text.TextQueries.benchContaminationBloom(bench, fpp = 1e-4)
    val c0 = DailyIngest.ingestDayCompute(spark, docs.where(col("day") === 0),
      media.where(col("day") === 0), benchBloom, root, 0,
      dayEmb = Some(emb.where(col("day") === 0).drop("day")))
    // simulate the crash window: buildFromCenters wrote centers.parquet
    // and DIED before postings/drift_ref — the store LOOKS ready
    // (embReady keys on centers.parquet) but is a partial build
    val stagedCenters = spark.read.parquet(s"$root/_stage/day_0/emb_centers")
    val embDir = DailyIngest.embStore(root)
    stagedCenters.write.mode("overwrite").parquet(s"$embDir/centers.parquet")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$embDir/postings.parquet")),
      "test setup: the crash left no postings")
    // retry phase 2: MUST route by the staged centers (rebuild), not by
    // store readiness (append) — the append path would leave drift_ref
    // absent forever and every later day's append unmonitored
    DailyIngest.ingestDayAppend(spark, root, 0, c0)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$embDir/drift_ref.parquet")),
      "retry must complete the build: drift reference present")
    val nPostings = spark.read.parquet(s"$embDir/postings.parquet").count()
    val nStaged = c0.cleanKept // clean docs with vectors <= cleanKept; >0 expected
    assert(nPostings > 0 && nPostings <= nStaged,
      s"retry must index the staged vectors once ($nPostings of <= $nStaged)")
    // and the monitor WORKS from here on: a second day's append logs drift
    DailyIngest.ingestDay(spark, docs.where(col("day") === 1),
      media.where(col("day") === 1), bench, root, 1,
      dayEmb = Some(emb.where(col("day") === 1).drop("day")))
    assert(spark.read.parquet(s"$embDir/drift_log.parquet").count() == 1,
      "the first post-build append day must be drift-monitored")
    // the keystone's maintenance check reads through the root: quiet
    // here (in-distribution days, generous budget), and None only while
    // no store exists — a daily driver calls it unconditionally
    val advice = DailyIngest.maintenanceAdvice(spark, root)
    assert(advice.exists(a => !a.recommend && a.generation == 0),
      s"in-budget in-distribution store must read quiet: $advice")
    assert(DailyIngest.maintenanceAdvice(spark,
        java.nio.file.Files.createTempDirectory("di-no-store").toString).isEmpty,
      "a root without an embedding store has no advice")
    benchBloom.destroy()
  }

  test("takedown forgets across all five stores, outputs, and shard BYTES; victims' twins become novel, others still shed") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val D = 1
    val root = java.nio.file.Files.createTempDirectory("di-takedown").toString
    val docs = OpsQueries.dailyDocs(spark, dir, D)
    val media = OpsQueries.dailyMedia(spark, dir, D)
    val emb = OpsQueries.dailyEmb(spark, dir, D)
    val bench = OpsQueries.dailyBench(spark, dir)
    DailyIngest.run(spark, docs, media, bench, root, D, emb = Some(emb))
    // victims: surviving day-0 docs/assets (so every surface holds them)
    val outDocs = spark.read.parquet(DailyIngest.textOut(root, 0))
      .select("doc_id").collect().map(_.getLong(0)).sorted
    val outMedia = spark.read.parquet(DailyIngest.mediaOut(root, 0))
      .select("media_id").collect().map(_.getLong(0)).sorted
    assert(outDocs.length > 4 && outMedia.length > 4, "fixture sanity")
    val (vDoc, ctlDoc) = (outDocs(0), outDocs(1))
    val (vMed, ctlMed) = (outMedia(0), outMedia(1))
    import spark.implicits._
    DailyIngest.takedown(spark, root, docs, media,
      Seq(vDoc).toDF("doc_id"), Seq(vMed).toDF("media_id"))
    // (a) outputs scrubbed; stores scrubbed
    assert(spark.read.parquet(DailyIngest.textOut(root, 0))
      .where(col("doc_id") === vDoc).count() == 0, "victim doc still in output")
    assert(spark.read.parquet(DailyIngest.mediaOut(root, 0))
      .where(col("media_id") === vMed).count() == 0, "victim asset still in output")
    assert(MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root))
      .where(col("doc_id") === vDoc).count() == 0, "victim still in band store")
    assert(graft.multimodal.SignatureStore.load(spark, DailyIngest.sigStore(root))
      .where(col("media_id") === vMed).count() == 0, "victim still in signature store")
    assert(spark.read.parquet(s"${DailyIngest.embStore(root)}/postings.parquet")
      .where(col("id") === vDoc).count() == 0, "victim still in IVF postings")
    // (b) the re-packed shard BYTES: every surviving asset still slices
    // out md5-exactly, and total stream mass is exactly the survivors'
    val idx = spark.read.parquet(DailyIngest.mediaIndexOut(root, 0))
    val asm = spark.read.parquet(DailyIngest.mediaShardOut(root, 0))
    assert(idx.where(col("media_id") === vMed).count() == 0,
      "victim still indexed in shards")
    val sliced = idx
      .join(media.select(col("media_id"), md5(col("content")).as("want")), Seq("media_id"))
      .join(asm, Seq("kind", "shard"))
      .withColumn("got", md5(expr(
        "substring(shard_bytes, cast(offset + 1 as int), cast(nbytes as int))")))
    assert(sliced.where(col("got") =!= col("want")).count() == 0,
      "a surviving asset no longer slices out byte-exactly")
    assert(sliced.count() ==
      spark.read.parquet(DailyIngest.mediaOut(root, 0)).count(),
      "shard coverage must equal the surviving asset set")
    // (c) novelty freed for the victim, intact for the control: probe a
    // re-crawl day carrying EXACT copies of both
    val probeBase = 1L << 50
    def copyDoc(id: Long, newId: Long) = docs.where(col("doc_id") === id)
      .withColumn("doc_id", lit(newId))
    val probeDocs = copyDoc(vDoc, probeBase).unionByName(copyDoc(ctlDoc, probeBase + 1))
      .drop("day")
    val probeMedia = media.where(col("media_id").isin(vMed, ctlMed))
      .withColumn("media_id",
        when(col("media_id") === vMed, probeBase).otherwise(probeBase + 1))
      .drop("day")
    val probeEmb = emb.where(col("doc_id").isin(vDoc, ctlDoc))
      .withColumn("doc_id",
        when(col("doc_id") === vDoc, probeBase).otherwise(probeBase + 1))
      .drop("day")
    val (txt, med) = DailyIngest.probeDay(spark, probeDocs, probeMedia, bench,
      root, dayEmb = Some(probeEmb))
    val keptDocs2 = txt.select("doc_id").collect().map(_.getLong(0)).toSet
    val keptMedia2 = med.select("media_id").collect().map(_.getLong(0)).toSet
    assert(keptDocs2.contains(probeBase),
      "the victim's re-crawl must be NOVEL after takedown (forgotten everywhere)")
    assert(!keptDocs2.contains(probeBase + 1),
      "the control's re-crawl must still be shed (stores intact for non-victims)")
    assert(keptMedia2.contains(probeBase),
      "the victim asset's copy must be novel after takedown")
    assert(!keptMedia2.contains(probeBase + 1),
      "the control asset's copy must still be shed")
  }

  test("drop log: every incoming id is survivor XOR logged-with-one-reason; takedown forgets victims' audit rows") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val D = 2
    val root = java.nio.file.Files.createTempDirectory("di-audit").toString
    val docs = OpsQueries.dailyDocs(spark, dir, D)
    val media = OpsQueries.dailyMedia(spark, dir, D)
    val bench = OpsQueries.dailyBench(spark, dir)
    val emb = OpsQueries.dailyEmb(spark, dir, D)
    DailyIngest.run(spark, docs, media, bench, root, D + 1, emb = Some(emb))
    val docSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id bigint, reason string")
    val mSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "media_id bigint, reason string")
    (0 to D).foreach { i =>
      val incoming = docs.where(col("day") === i).select("doc_id")
      val surv = spark.read.parquet(DailyIngest.textOut(root, i)).select("doc_id")
      val logged = spark.read.schema(docSchema)
        .parquet(DailyIngest.dropLogOut(root, i))
      assert(logged.groupBy("doc_id").count().where(col("count") > 1).count() == 0,
        s"day $i: a doc must carry exactly one drop reason")
      assert(logged.where(!col("reason")
        .isin(DailyIngest.DropReasons: _*)).count() == 0,
        s"day $i: unknown drop reasons")
      assert(surv.join(logged, Seq("doc_id"), "left_semi").count() == 0,
        s"day $i: a survivor must not be logged as dropped")
      val uni = surv.unionByName(logged.select("doc_id"))
      val miss = incoming.exceptAll(uni).count() + uni.exceptAll(incoming).count()
      assert(miss == 0, s"day $i: drop log + survivors must partition incoming")
      val mIncoming = media.where(col("day") === i).select("media_id")
      val mSurv = spark.read.parquet(DailyIngest.mediaOut(root, i)).select("media_id")
      val mLogged = spark.read.schema(mSchema)
        .parquet(DailyIngest.mediaDropLogOut(root, i))
      val mUni = mSurv.unionByName(mLogged.select("media_id"))
      assert(mIncoming.exceptAll(mUni).count() + mUni.exceptAll(mIncoming).count() == 0,
        s"day $i: media drop log + survivors must partition incoming media")
    }
    // takedown forgets the audit rows too: pick a doc that was DROPPED
    // (it has a log row but no survivor row) and take it down
    val victim = spark.read.schema(docSchema)
      .parquet(DailyIngest.dropLogOut(root, D))
      .where(col("doc_id") < (1L << 40)) // a real crawl doc, not a plant
      .orderBy("doc_id").limit(1).collect().map(_.getLong(0))
    assert(victim.nonEmpty, "fixture sanity: day D must drop a real doc")
    import spark.implicits._
    DailyIngest.takedown(spark, root, docs, media,
      victim.toSeq.toDF("doc_id"), Seq.empty[Long].toDF("media_id"),
      takedownId = "audit1")
    (0 to D).foreach { i =>
      val left = spark.read.schema(docSchema)
        .parquet(DailyIngest.dropLogOut(root, i))
        .where(col("doc_id") === victim.head).count()
      assert(left == 0, s"day $i: the victim's audit row must be forgotten")
    }
  }

  test("prefixChars is a caller decision: the exact-novelty key length changes which docs deduplicate") {
    import spark.implicits._
    // two docs sharing their first ~87 chars but diverging after: under
    // the default 80-char key they are the SAME content (day-1 copy
    // shed by the store); under a 200-char key they are different.
    // Distinct words throughout → trigram repetition 0, gopher-passing.
    val head = "the copper gasket turbine velvet anchor mineral doctrine " +
      "harbor lantern prairie goblet" // 89 chars > 80
    val docA = (1L, "https://p.ex/a", s"$head original drift sentences continue with unique morning stations beyond those ridges", "en", "w", 0L)
    val docB = (2L, "https://p.ex/b", s"$head divergent finale carries separate evening clusters toward another quiet meadow", "en", "w", 0L)
    def mkDocs(day: Int, row: (Long, String, String, String, String, Long)) =
      Seq(row).toDF("doc_id", "url", "text", "lang", "source", "n_chars")
        .withColumn("day", lit(day))
    val media0 = graft.multimodal.Multimodal
      .syntheticMedia(spark, dir).limit(0)
    val bench = OpsQueries.dailyBench(spark, dir)
    def runBoth(prefixChars: Int): Long = {
      val root = java.nio.file.Files
        .createTempDirectory(s"di-prefix-$prefixChars").toString
      val cfg = DailyIngest.IngestConfig(prefixChars = prefixChars)
      DailyIngest.ingestDay(spark, mkDocs(0, docA), media0, bench, root, 0, cfg)
      DailyIngest.ingestDay(spark, mkDocs(1, docB), media0, bench, root, 1, cfg)
      spark.read.parquet(DailyIngest.textOut(root, 1)).count()
    }
    assert(runBoth(80) == 0L,
      "under the 80-char key the shared head makes docB a duplicate")
    assert(runBoth(200) == 1L,
      "under a 200-char key the divergent tails make docB novel")
  }

  test("takedown: transitive expansion sweeps a SEEN-but-SHED duplicate; the expansion is STAGED so a crash-retry converges") {
    import spark.implicits._
    // day 0: A and its near-dup B (an EARLY token edited → different
    // exact key, est-Jaccard ≈ 0.83 — far above the 0.5 bar) — B is
    // shed within-day yet RECORDED (SEEN-vs-KEPT); C is unrelated
    val tA = "the alpha beaver carries driftwood and the river bends " +
      "while the morning light settles over the quiet valley where the " +
      "tall pines watch and the cold water runs toward the eastern shore"
    val tB = tA.replaceFirst("alpha", "omega")
    val tC = "the copper lantern hums beside the harbor wall and the " +
      "evening ferries drift past while the old keeper counts silver " +
      "fishes under the warm lamplight near the wooden pier tonight"
    def mk(rows: Seq[(Long, String, String)]) = rows
      .toDF("doc_id", "url", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("w"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .withColumn("day", lit(0))
    val docs = mk(Seq((1L, "https://t.ex/a", tA), (2L, "https://t.ex/b", tB),
      (3L, "https://t.ex/c", tC)))
    // takedown's media lake needs a day column (the re-pack scope is
    // lake-derived — retry-stable, see the takedown scaladoc)
    val media0 = graft.multimodal.Multimodal.syntheticMedia(spark, dir)
      .limit(0).withColumn("day", lit(0))
    val bench = OpsQueries.dailyBench(spark, dir)
    val root = java.nio.file.Files.createTempDirectory("di-td-retry").toString
    DailyIngest.ingestDay(spark, docs, media0, bench, root, 0)
    val out0 = spark.read.parquet(DailyIngest.textOut(root, 0))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out0 == Set(1L, 3L), s"B must shed within-day: $out0")
    assert(MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root))
      .where(col("doc_id") === 2L).count() > 0,
      "B's signature must be recorded though B was shed")
    // takedown A: the transitive expansion must sweep B — a takedown
    // that only forgot A would leave the stores recognizing A's
    // content through B's recorded bands
    DailyIngest.takedown(spark, root, docs, media0,
      Seq(1L).toDF("doc_id"), Seq.empty[Long].toDF("media_id"),
      takedownId = "t1")
    assert(MinHashBandStore.loadSigs(spark, DailyIngest.mhStore(root))
      .where(col("doc_id").isin(1L, 2L)).count() == 0,
      "A and its shed duplicate B must both leave the band store")
    assert(new java.io.File(s"$root/_ledger/takedown_t1.victims/.staged").exists(),
      "the expanded victim set must be staged (two-phase)")
    def bloomMd5() = java.security.MessageDigest.getInstance("MD5")
      .digest(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        s"${DailyIngest.textStore(root)}/bloom.bin")))
      .map("%02x".format(_)).mkString
    val snap = bloomMd5()
    // re-crawls probe one at a time (A's and B's re-crawls near-dup
    // EACH OTHER — sharing a day would shed the later one within-day)
    def probe(text: String, id: Long): Set[Long] = {
      val (txt, _) = DailyIngest.probeDay(spark,
        mk(Seq((id, s"https://t.ex/r$id", text))).drop("day"),
        media0, bench, root)
      txt.select("doc_id").collect().map(_.getLong(0)).toSet
    }
    assert(probe(tA, 101L) == Set(101L), "A's re-crawl must be novel")
    assert(probe(tB, 102L) == Set(102L),
      "the SHED duplicate B's re-crawl must be novel too")
    assert(probe(tC, 103L).isEmpty, "the control's copy must still be shed")
    // crash just before the completion marker: delete it and re-run.
    // The retry must REUSE the staged expansion — recomputing it from
    // the now-mutated stores would find nothing beyond A and re-admit
    // B's key into the rebuilt content bloom
    assert(new java.io.File(s"$root/_ledger/takedown_t1").delete(),
      "test setup: simulate the pre-marker crash")
    DailyIngest.takedown(spark, root, docs, media0,
      Seq(1L).toDF("doc_id"), Seq.empty[Long].toDF("media_id"),
      takedownId = "t1")
    assert(bloomMd5() == snap,
      "the retry must converge byte-identically (staged expansion reused)")
    assert(probe(tB, 104L) == Set(104L),
      "B's re-crawl must STILL be novel after the crash-retry")
  }

  test("takedown of an ENTIRE day's survivors leaves every output readable (empty, not vanished)") {
    assume(new java.io.File(s"$dir/documents.parquet").exists())
    val D = 1
    val root = java.nio.file.Files.createTempDirectory("di-allvictim").toString
    val docs = OpsQueries.dailyDocs(spark, dir, D)
    val media = OpsQueries.dailyMedia(spark, dir, D)
    val bench = OpsQueries.dailyBench(spark, dir)
    (0 to D).foreach { i =>
      DailyIngest.ingestDay(spark, docs.where(col("day") === i),
        media.where(col("day") === i), bench, root, i)
    }
    // victims = EVERY day-0 survivor (text and media): deleteRows then
    // removes the day=0 partitions outright, and the re-pack runs on
    // empty frames — the two legs that used to leave the day unreadable
    val vDocs = spark.read.parquet(DailyIngest.textOut(root, 0)).select("doc_id")
      .localCheckpoint(true)
    val vMedia = spark.read.parquet(DailyIngest.mediaOut(root, 0)).select("media_id")
      .localCheckpoint(true)
    assert(vDocs.count() > 0 && vMedia.count() > 0, "fixture sanity")
    DailyIngest.takedown(spark, root, docs, media, vDocs, vMedia,
      takedownId = "all0")
    // every day-0 output reads back EMPTY through schema inference —
    // no "path does not exist", no "unable to infer schema"
    Seq(DailyIngest.textOut(root, 0), DailyIngest.textIndexOut(root, 0),
        DailyIngest.textShardOut(root, 0), DailyIngest.mediaOut(root, 0),
        DailyIngest.mediaIndexOut(root, 0), DailyIngest.mediaShardOut(root, 0))
      .foreach { p =>
        assert(spark.read.parquet(p).count() == 0,
          s"all-victim day output must read back empty: $p")
      }
    // day 1 is untouched where it held no victims, and still readable
    // where the transitive expansion swept its shed twins
    assert(spark.read.parquet(DailyIngest.textOut(root, 1)).count() >= 0)
    assert(spark.read.parquet(DailyIngest.textShardOut(root, 1)).count() > 0,
      "day 1 keeps its packed shards")
  }
}
