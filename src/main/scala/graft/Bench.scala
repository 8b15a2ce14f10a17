package graft
import org.apache.spark.sql.SparkSession
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // session warmup (codegen/JIT/scan setup) so the first timed query
    // isn't charged for it: one representative of each hot code family
    // (agg scan, pair-compute + top-k aggregate, shingle/tokenize) at the
    // smallest SF — a few seconds that make single-rep timings reflect
    // steady state rather than JIT order
    // warm against the smallest local SF if present, else the bench dir
    // itself; a failed warmup is LOGGED (a silently-cold bench would be
    // compared against steady-state baselines)
    val warmDir =
      if (new java.io.File("/root/testdata/sf0.001").isDirectory) "/root/testdata/sf0.001"
      else sfDir
    // the BH family warms at sf0.01, not sf0.001: its hot loops (tree
    // build and walk, edge-force kernels) need ~500 points × 30 iterations of
    // invocations before C2 JIT kicks in — a 50-point warmup left the
    // driver's single timed run 1.4× over the pinned steady state (r2)
    val warmDir2 =
      if (new java.io.File("/root/testdata/sf0.01").isDirectory) "/root/testdata/sf0.01"
      else warmDir
    (Seq("q1_agg", "knn_embeddings", "dedup_exact_prefix", "text_stats",
        "ann_ivf_topk", "ml_pca", "dedup_ngram_jaccard",
        "tsne_trustworthiness").map(_ -> warmDir)
      :+ ("tsne_bh_embedding" -> warmDir2)).foreach { case (w, dir) =>
      try SparkEntry.queries(w)(spark, dir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] warmup $w failed (timings may run cold): ${e.getMessage}")
      }
    }
    // profiling knobs (unset in driver runs): SPARK_GRAFT_ONLY=q1,q2
    // restricts the surface; SPARK_GRAFT_REPS=n forces exactly n reps per
    // query and reports the minimum (steady-state cost, JIT/cache-warm
    // excluded)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val repsEnv = sys.env.get("SPARK_GRAFT_REPS").map(r => math.max(1, r.toInt))
    // Default protocol (r6): EVERY query runs at least twice and the min is
    // reported. r5's min-of-3-under-1.5s protected only the cheap queries
    // while the heavy ones — exactly the ones that decide the
    // bench-vs-baseline verdict — stayed single-run: r5's one outlier was a
    // 3.6 s query reading 14.3 s on its single draw. Cheap queries (< the
    // threshold) get a third rep because scheduler/GC noise is a larger
    // FRACTION of their reading (r3→r4 showed 2-4x swings on untouched
    // sub-second queries).
    val autoRepBelow = sys.env.getOrElse("SPARK_GRAFT_AUTOREP_BELOW", "1.5").toDouble
    val surface = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val results = surface.map { case (name, fn) =>
      def once(): Double = {
        val t0 = System.nanoTime()
        // noop sink forces FULL evaluation of every output column — a bare
        // count() lets Catalyst prune expensive final projections and would
        // under-time projection-heavy queries
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val sec = (System.nanoTime() - t0) / 1e9
        // drop caches the query left behind (sketch operators pin frames
        // with storage-LRU lifetime) BETWEEN reps, not just between
        // queries: Spark's CacheManager matches by plan, so a later rep of
        // the same query would silently reuse rep 1's cached frames and
        // report a warm-cache time that isn't comparable to the cold pins
        spark.catalog.clearCache()
        if (ok) sec else -1.0
      }
      val times = repsEnv match {
        case Some(n) => (1 to n).map(_ => once())
        case None =>
          val first = once()
          if (first < 0) Seq(first)
          else if (first < autoRepBelow) Seq(first, once(), once())
          else Seq(first, once())
      }
      // a transient failure on a RERUN must not discard a valid first
      // measurement — report the min over successful reps; only a query
      // with zero successful reps is failed
      name -> times.filter(_ >= 0)
    }
    val qs = results.map { case (k, v) =>
      s"\"" + k + "\":" + (if (v.isEmpty) -1.0 else v.min)
    }.mkString("{", ",", "}")
    // per-query count of SUCCESSFUL reps so a bench reader can tell
    // steady-state minima from single-shot measurements
    val repsJson = results.map { case (k, v) => s"\"" + k + "\":" + v.length }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2.isEmpty).keys.toSeq.sorted
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.values.filter(_.nonEmpty).map(_.min).sum
    // the protocol string must describe how the numbers were ACTUALLY
    // produced — a forced-reps run is not the auto-rep protocol
    val protocol = repsEnv match {
      case Some(n) => s"forced_reps_$n"
      case None    => s"min_of_2_all_3_under_${autoRepBelow}s"
    }
    // Opt-in regression gate (SPARK_GRAFT_BASELINE=1 or =path): compare
    // each query's reported min against its pinned steady-state time in
    // baseline_pins.json and fail on any 2x exceedance — the 2x rule
    // lives in the repo, not just in round-verdict heads. The +0.25 s
    // absolute slack keeps sub-100 ms queries from tripping the gate on
    // scheduler jitter that a ratio alone would flag.
    //
    // Runs BEFORE the JSON is emitted/persisted so the bench artifact
    // CONTAINS its own adjudication (`baseline_gate`): r10's committed
    // sweep carried four unexplained >2x in-sweep readings precisely
    // because the gate ran in heads, not artifacts — round_health now
    // REDs a bench line whose gate did not run or did not pass.
    //
    // A query whose in-sweep reading trips the 2x line gets isolated
    // re-measurement and is judged on the better time. A ~100-query
    // sequential sweep carries host-contention noise that can flip
    // untouched queries past 2x (measured, same build: events_windowed
    // 1.73 s in-sweep vs 0.26 s isolated) — a gate that reds on that
    // noise trains its readers to ignore it.
    val gateResult: Option[(Seq[String], Int, Double)] = sys.env.get("SPARK_GRAFT_BASELINE").map { bl =>
      val path = if (bl == "1") "baseline_pins.json" else bl
      val text = scala.io.Source.fromFile(path)
      // real JSON parse (json4s ships with Spark) of the `queries` map —
      // the former regex scraped every "name": number pair in the file,
      // including non-pin fields and commentary
      val pins =
        try {
          import org.json4s._
          org.json4s.jackson.JsonMethods.parse(text.mkString) \ "queries" match {
            case JObject(fields) => fields.collect {
              case (k, JDouble(v))  => k -> v
              case (k, JInt(v))     => k -> v.toDouble
              case (k, JDecimal(v)) => k -> v.toDouble
              case (k, JLong(v))    => k -> v.toDouble
            }.toMap
            case _ => Map.empty[String, Double]
          }
        } finally text.close()
      val violations = results.toSeq.flatMap { case (name, v) =>
        pins.get(name).toSeq
          .filter(pin => v.nonEmpty && v.min > 2 * pin && v.min - pin > 0.25)
          .map { pin =>
            System.err.println(f"[baseline] ${name}: ${v.min}%.2f s vs pinned $pin%.2f s — isolated retry")
            // up to TWO isolated re-measurements with a GC between,
            // judged on the best: at ~100 sweep queries the end-of-sweep
            // heap pressure can flip a single same-JVM retry too
            // (observed: different sub-second query flagged on each of
            // three consecutive green-in-isolation sweeps). A true 2×
            // regression fails all three readings.
            val best = (1 to 2).foldLeft(v.min) { (acc, _) =>
              if (acc <= 2 * pin || acc - pin <= 0.25) acc
              else {
                System.gc()
                val t0 = System.nanoTime()
                val rerun =
                  try { surface(name)(spark, sfDir).write.format("noop").mode("overwrite").save()
                    (System.nanoTime() - t0) / 1e9 }
                  catch { case _: Throwable => acc } // transient: keep the prior reading
                spark.catalog.clearCache()
                math.min(acc, rerun)
              }
            }
            (name, best, pin)
          }
          .filter { case (_, t, pin) => t > 2 * pin && t - pin > 0.25 }
          .map { case (n, t, pin) =>
            f"$n: $t%.2f s (best incl. retry) vs pinned $pin%.2f s (${t / pin}%.1fx)" }
      }
      val unpinned = results.keySet -- pins.keySet -- failed
      if (unpinned.nonEmpty)
        System.err.println(s"[baseline] WARN unpinned queries (add to $path): ${unpinned.toSeq.sorted.mkString(", ")}")
      // aggregate-vs-pins: Σ in-sweep minima over pinned queries / Σ
      // pins — the sweep-environment health number round_health WARNs
      // on above ~1.05 (a sweep that only passes via isolated retries
      // is the gate working hard, not the environment being honest)
      val pinnedRead = results.toSeq.flatMap { case (name, v) =>
        pins.get(name).filter(_ => v.nonEmpty).map(pin => (v.min, pin))
      }
      val aggregateVsPins =
        if (pinnedRead.isEmpty) 1.0
        else pinnedRead.map(_._1).sum / pinnedRead.map(_._2).sum
      System.err.println(f"[baseline] aggregate vs pins: $aggregateVsPins%.3f over ${pinnedRead.size} pinned queries")
      if (violations.nonEmpty || failed.nonEmpty) {
        (violations ++ failed.map(f => s"$f: FAILED to run")).foreach(v =>
          System.err.println(s"[baseline] REGRESSION $v"))
        (violations, 1, aggregateVsPins)
      } else {
        System.err.println(s"[baseline] OK: ${pins.size} pins, 0 regressions")
        (Seq.empty[String], 0, aggregateVsPins)
      }
    }
    def jstr(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val gateJson = gateResult match {
      case None => """{"status":"not_run"}"""
      case Some((viol, rc, agg)) =>
        val status = if (rc == 0) "ok" else "violations"
        s"""{"status":"$status","violations":${viol.map(jstr).mkString("[", ",", "]")},"aggregate_vs_pins":$agg}"""
    }
    val benchJson = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"reps":$repsJson,"protocol":"$protocol","failed":$failedJson,"baseline_gate":$gateJson,"sf":"$sfDir"}"""
    println(benchJson)
    // Persist the full line to tools/bench_local/: the driver's artifact
    // keeps only the tail ~2 KB of bench stdout, which drops the per-query
    // times map (r8/r9's per-query data is unrecoverable for exactly this
    // reason). Best-effort — the bench must never fail on persistence.
    // ONLY full default-protocol sweeps persist: a SPARK_GRAFT_ONLY or
    // forced-reps profiling run must not clobber the round's record.
    if (only.isEmpty && repsEnv.isEmpty) try {
      val roundTag = try {
        val src = scala.io.Source.fromFile("PROGRESS.jsonl")
        val last = try src.getLines().foldLeft("")((_, l) => l) finally src.close()
        """"round":\s*(\d+)""".r.findFirstMatchIn(last)
          .map(m => f"r${m.group(1).toInt}%02d").getOrElse("rxx")
      } catch { case _: Throwable => "rxx" }
      val outDir = new java.io.File("tools/bench_local")
      outDir.mkdirs()
      // WRITE-ONCE for gated records: an artifact whose baseline gate
      // adjudicated "ok" is the round's committed record — a later rerun
      // in the same round (driver post-close reruns recur; five rounds
      // running) must not overwrite it. Reruns auto-route to
      // r{NN}_rerun_local.json instead of relying on a manual restore.
      def gatedOk(f: java.io.File): Boolean = f.exists && {
        val src = scala.io.Source.fromFile(f)
        try src.mkString.contains("\"baseline_gate\":{\"status\":\"ok\"")
        finally src.close()
      }
      val primary = new java.io.File(outDir, s"${roundTag}_local.json")
      val target =
        if (!gatedOk(primary)) primary
        else {
          val rerun = new java.io.File(outDir, s"${roundTag}_rerun_local.json")
          System.err.println(s"[bench] ${primary.getName} holds a gate-ok " +
            s"record (write-once) — persisting to ${rerun.getName}")
          rerun
        }
      val pw = new java.io.PrintWriter(target)
      try pw.println(benchJson) finally pw.close()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] persist to tools/bench_local failed: ${e.getMessage}")
    }
    // Compact (≤1 KB) machine-readable summary as the FINAL stdout line:
    // the full record above is a single ~12 KB line (160 per-query doubles)
    // that a bounded tail window truncates mid-JSON — 19 rounds of driver
    // artifacts carry `parsed: null` for exactly that reason. This line
    // carries the totals and the gate adjudication only; the per-query map
    // lives in the full line above and in tools/bench_local/. ADDITIVE:
    // the full-contract line is still printed first, unchanged.
    val summaryGate = gateResult match {
      case None => """{"status":"not_run"}"""
      case Some((viol, rc, agg)) =>
        s"""{"status":"${if (rc == 0) "ok" else "violations"}","n_violations":${viol.size},"aggregate_vs_pins":$agg}"""
    }
    // a SPARK_GRAFT_ONLY run times a subset: its total is not the sweep's
    val partial = if (only.isDefined) ""","partial":true""" else ""
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_failed":${failed.size},"protocol":${jstr(protocol)},"baseline_gate":$summaryGate,"sf":${jstr(sfDir)},"cpus":$cpus$partial}""")
    spark.stop()
    gateResult.map(_._2).filter(_ != 0).foreach(_ => sys.exit(1))
  }
}
