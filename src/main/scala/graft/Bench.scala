package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: one JSON line with per-query and total seconds
  * over SparkEntry.queries at SPARK_GRAFT_SF_DIR.
  *
  * Each query is forced end-to-end with a noop-format write (full
  * computation of every row/column — `count()` would let Catalyst prune
  * work). A warmup query first absorbs JVM/classloading/codegen
  * startup so per-query numbers measure the plan, not the JVM.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.sources.Tables.graftSession(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false"))
    spark.sparkContext.setLogLevel("WARN")

    // queries that threw in any pass: named in both JSON lines and on
    // stderr, so a failure never reads as a faster bench
    val failed = scala.collection.mutable.SortedSet.empty[String]
    def run(name: String): Double = {
      val t0 = System.nanoTime()
      val elapsed =
        try {
          SparkEntry.queries(name)(spark, sfDir)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        } catch {
          case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: $e")
            failed += name
            -1.0
        }
      // outside the timed section: drop the query's checkpointed blocks
      // so a 133-query sweep doesn't bleed storage memory into later
      // queries (see Tables.freeTransientBlocks). Janitor contract: no
      // streaming query may be mid-flight (registered streams are
      // AvailableNow and complete inside the timed section).
      assert(spark.streams.active.isEmpty,
        s"janitor with active streaming queries after $name: " +
          spark.streams.active.map(_.name).mkString(","))
      graft.sources.Tables.freeTransientBlocks(spark)
      graft.sources.Tables.dropDrainedStreamTables(spark)
      // Shuffle files and broadcasts are cleaned only after their
      // dependency objects are GC'd (ContextCleaner weak refs); with the
      // 60 s periodic GC alone, a fast sweep accumulates hundreds of
      // shuffles whose cleanup RPCs + file deletes then land INSIDE
      // later queries' timed sections (the sf1 late-sweep residue,
      // SOAK.md). Nudge a GC here — outside the timed window — and give
      // the cleaner thread a beat to drain, so each query starts from a
      // clean block manager. A real cluster sheds this via executor
      // lifecycle; this is bench-harness hygiene, not plan cost.
      System.gc()
      Thread.sleep(50)
      elapsed
    }

    // warmup: JVM + codegen + parquet reader init (not reported)
    try SparkEntry.entry(spark).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // best-of-N per query (default 2): a single-run number conflates the
    // plan's cost with whatever else the machine was doing — round 2's
    // committed bench recorded a 0.57s query at 21.8s purely from
    // machine load. The minimum over passes is the standard
    // load-noise-robust estimator of the plan's cost; passes are
    // interleaved (full sweep, then again) so co-scheduled noise does
    // not hit both runs of the same query.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    // dev loop: SPARK_GRAFT_BENCH_ONLY=q94_basket_pairs,q85_revenue_cube
    // restricts the sweep while iterating on one plan (driver leaves it unset)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val sweeps = (1 to passes).map(_ => names.map(n => n -> run(n)).toMap)
    def r3(v: Double): Double = math.rint(v * 1000) / 1000
    val results = names.map { n =>
      val ts = sweeps.map(_(n))
      n -> (if (ts.exists(_ >= 0)) r3(ts.filter(_ >= 0).min) else -1.0)
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = r3(results.map(_._2).filter(_ >= 0).sum)
    // Diagnostics family: queries that MEASURE the engine (sweep every
    // sketch dial / LSH split against exact twins, grade ANN recall) —
    // bench weight with no analytic payload. They stay in the sweep and
    // in `value` (driver comparability across rounds), but the split
    // lets the headline track analytic capability separately.
    val diagnostics = Set("q136_sketch_sweep", "q121_ann_config_sweep",
      "q105_ann_recall",
      // q199 executes the q144 search TWICE (compacted vs union) to
      // prove compaction lossless - an audit of the index lifecycle,
      // not an analytic payload
      "q199_ann_compact")
    // Harness family: multi-batch streaming replays whose cost is the
    // replay harness (state-store + sink-log commits × batches, kill/
    // restart cycles), not the operator — each operator is separately
    // oracle-checked by its batch twin (q26/q28/q66/q141). Keeping them
    // out of `analytic` keeps the headline meaningful as the roster
    // grows (round-8 verdict "What's wrong" #2).
    val harness = Set("q143_streaming_restart", "q146_streaming_late",
      "q148_streaming_update", "q154_streaming_upsert",
      "q157_streaming_evict", "q160_stream_dim_swap")
    val diagTotal = r3(results.collect {
      case (k, v) if diagnostics(k) && v >= 0 => v }.sum)
    val harnessTotal = r3(results.collect {
      case (k, v) if harness(k) && v >= 0 => v }.sum)
    val analyticTotal = r3(total - diagTotal - harnessTotal)
    val split = s""""analytic":$analyticTotal,"diagnostics":$diagTotal,"harness":$harnessTotal"""
    // Machine-drift self-normalization (round-15, the round-14 verdict's
    // bench-hygiene ask): this VM class drifts 0.97-1.2x within a day,
    // so cross-round per-query deltas only mean something relative to
    // the committed same-code control. Emit the median per-query ratio
    // against the newest committed BENCH_LOCAL_r*.json so the
    // normalization is in the bench line itself instead of a manual
    // post-pass. Median over all shared queries (>=50 ms in the
    // control): at most a handful change per round, so code wins/losses
    // cannot move the median — it measures the HOST. Non-fatal and
    // omitted when no control file is present (e.g. the driver's bare
    // checkout runs from the repo root, where the controls live).
    val drift: Option[Double] = try {
      val ctrl = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .filter(f => f.getName.matches("BENCH_LOCAL_r\\d+\\.json"))
        .sortBy(f => f.getName.replaceAll("\\D", "").toInt)
        .lastOption
      ctrl.flatMap { f =>
        val txt = new String(java.nio.file.Files.readAllBytes(f.toPath),
          "UTF-8")
        // scale-factor guard (round-15 ADVICE #3): a sf1/sf3 soak run
        // compared against an sf0.1 control would emit a large,
        // meaningless ratio — omit the field unless the control's sf
        // matches this run's
        val ctrlSf = "\"sf\":\"([^\"]+)\"".r
          .findFirstMatchIn(txt).map(_.group(1))
        if (!ctrlSf.contains(sfDir)) None
        else {
          val entry = "\"(q[0-9]\\w+)\":([0-9.]+)".r
          // take per-query times from the control's "queries" object only
          val qsTxt = txt.indexOf("\"queries\":")
          val old = if (qsTxt < 0) Map.empty[String, Double]
            else entry.findAllMatchIn(txt.substring(qsTxt))
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          val cur = results.toMap
          val ratios = old.toSeq.collect {
            case (k, v) if v >= 0.05 && cur.getOrElse(k, -1.0) > 0 =>
              cur(k) / v
          }.sorted
          if (ratios.size < 20) None
          else Some(math.rint(ratios(ratios.size / 2) * 1000) / 1000)
        }
      }
    } catch { case _: Throwable => None }
    val driftField = drift.map(d => s""","drift_ratio":$d""").getOrElse("")
    val failedField = failed.map("\"" + _ + "\"")
      .mkString(""","failed":[""", ",", "]")
    if (failed.nonEmpty)
      System.err.println(s"[bench] failed queries: ${failed.mkString(",")}")
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec",$split$driftField$failedField,"queries":$qs,"sf":"$sfDir","passes":$passes}"""
    println(line)
    // The driver keeps only the last ~2000 chars of output; with 100+
    // queries the detail line above overflows that window and the head
    // (the total!) is lost. Repeat a short summary LAST so the tail
    // always carries the headline numbers, and persist the full line.
    val slowest = results.filter(_._2 >= 0).sortBy(-_._2).take(8)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec",$split$driftField$failedField,"nqueries":${results.size},"slowest":$slowest,"sf":"$sfDir","passes":$passes}""")
    try {
      val p = java.nio.file.Paths.get("bench_detail.json")
      java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
    } catch {
      case e: Throwable => // non-fatal, but don't lose the only signal
        System.err.println(
          s"[bench] WARN could not persist bench_detail.json: $e")
    }
    spark.stop()
  }
}
