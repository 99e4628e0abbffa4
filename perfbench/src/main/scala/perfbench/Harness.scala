package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import graft.sources.Tables

/** Benchmark harness: builds the session, runs one workload as a closed
  * loop with one client thread and writes every sample it took to a
  * JSON file that `perfbench/run.py` turns into metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <dataDir>
  *          <workDir> <outFile> <digestFile>
  *
  * Phases: set-up (session build, warm-up, input generation) repeated
  * [[SetupSamples]] times; a cold first round over the operation set,
  * in which each operation's output is also checked; then the warm
  * rounds. Each round runs the operations in an order drawn from the
  * seed, which the program never sees (the
  * ETL workload also uses it as the data generator's seed). The number
  * of warm rounds follows from `seconds` (see [[RoundSeconds]]).
  * With tracing on, each operation alternates between traced and
  * untraced executions across the warm rounds, so the run also measures
  * the tracing overhead.
  */
object Harness {
  val SetupSamples = 3

  /** A run measures one warm round per this many seconds of its budget
    * (a bi_dashboard round takes about ten seconds on a 4-core host, an
    * etl_load load about seven). Deriving the count from the budget, not
    * from the clock, gives every run with the same budget the same
    * samples; a clock-driven count flips between two values when a
    * round ends close to the budget.
    */
  val RoundSeconds = 10.0
  val Cores = Tracer.Cores

  final case class OpRecord(op: Int, name: String, round: Int, cold: Boolean,
      traced: Boolean, ms: Double, janitorMs: Double, error: Option[String],
      layers: Map[String, Double]) {
    def json: String = Json.obj("op" -> op, "name" -> name, "round" -> round,
      "cold" -> cold, "traced" -> traced, "ms" -> ms, "janitor_ms" -> janitorMs,
      "error" -> error, "layers" -> layers)
  }

  def buildSession(workDir: String): SparkSession = {
    val s = Tables.graftSession(SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$workDir/checkpoints"))
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Runs the timed part of one operation. Anything it throws becomes
    * the error, named by its exception class, and the operation counts
    * as failed. Returns the wall time (or the operation's own `op_ms`
    * when it times only part of itself) and its own sub-span figures.
    */
  def timeOp(run: () => Map[String, Double])
      : (Double, Map[String, Double], Option[String]) = {
    val t0 = System.nanoTime()
    val result = try Right(run()) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e6
    result match {
      case Left(e) => (wall, Map.empty, Some(describe(e)))
      case Right(own) => (own.getOrElse("op_ms", wall), own - "op_ms", None)
    }
  }

  /** The untimed output check; a wrong output is a failure too. */
  def checkOp(check: () => Option[String]): Option[String] =
    (try check() catch { case e: Throwable => Some(describe(e)) })
      .map("wrong output: " + _)

  def describe(e: Throwable): String =
    e.getClass.getName + Option(e.getMessage).map(m => ": " + m.take(300)).getOrElse("")

  /** The janitor the program provides, run between operations. */
  def janitor(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    Tables.freeTransientBlocks(spark)
    Tables.dropDrainedStreamTables(spark)
    (System.nanoTime() - t0) / 1e6
  }

  def order(ops: Seq[String], seed: Long, round: Int): Seq[String] =
    new Random(seed * 1000003L + round).shuffle(ops)

  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def readDigests(path: String): Map[String, Digest] = {
    val f = new File(path)
    if (!f.exists) Map.empty
    else {
      val entry = "\"(\\w+)\"\\s*:\\s*\\{\\s*\"rows\"\\s*:\\s*(\\d+)\\s*,\\s*\"hash\"\\s*:\\s*\"([0-9a-f]{16})\"".r
      entry.findAllMatchIn(new String(Files.readAllBytes(f.toPath), "UTF-8"))
        .map(m => m.group(1) -> Digest(m.group(2).toLong,
          java.lang.Long.parseUnsignedLong(m.group(3), 16))).toMap
    }
  }

  def main(args: Array[String]): Unit = {
    val Array(workloadName, seedArg, secondsArg, traceArg, dataDir, workDir,
      outFile, digestFile) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toDouble
    val trace = traceArg == "1"
    new File(workDir).mkdirs()
    val workload = Workload(workloadName, dataDir, workDir, seed,
      readDigests(digestFile))

    // set-up, repeated; the last session is the one measured
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (_ <- 0 until SetupSamples) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = buildSession(workDir)
      workload.setup(spark)
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val sc = spark.sparkContext

    val tracer = new Tracer
    val records = mutable.ArrayBuffer.empty[OpRecord]
    var nextOp = 0

    def runRound(round: Int): Unit = {
      // harness hygiene outside every timed window: surface the last
      // round's dropped shuffles and blocks to the ContextCleaner now,
      // not in the middle of this round's operations
      System.gc()
      order(workload.ops, seed, round).foreach { name =>
        // traced and untraced executions of each operation alternate
        // across rounds, so both sides see the same warm-up
        val traced = trace && round > 0 &&
          (workload.ops.indexOf(name) + round) % 2 == 0
        if (traced) tracer.register(spark)
        val id = nextOp
        nextOp += 1
        sc.setJobGroup(Tracer.GroupPrefix + id, name, interruptOnCancel = false)
        tracer.currentOp = id
        val start = System.currentTimeMillis()
        val (ms, own, runError) = timeOp(() => workload.run(spark, name, round == 0))
        val end = start + math.round(ms)
        sc.clearJobGroup()
        var layers = Map.empty[String, Double]
        if (traced) {
          PerfbenchBus.drain(sc)
          val span = Tracer.OpSpan(id, name, start, end)
          tracer.addOp(span)
          layers = tracer.layers(span) ++ own ++ writeLayers(tracer, id)
        }
        tracer.currentOp = -1
        val error = runError.orElse(checkOp(() => workload.check(spark, name)))
        if (traced) layers ++= workload.outputLayers
        val janitorMs = janitor(spark)
        if (traced) layers += "janitor_ms" -> janitorMs
        if (traced) {
          PerfbenchBus.drain(sc)
          tracer.unregister(spark)
        }
        records += OpRecord(id, name, round, round == 0, traced, ms, janitorMs,
          error, layers)
      }
    }

    val warmRounds = math.max(1, math.round(seconds / RoundSeconds).toInt)
    // a traced run needs three warm rounds at least, so that each
    // operation's traced execution has untraced ones around it
    (0 to (if (trace) math.max(3, warmRounds) else warmRounds)).foreach(runRound)

    val host = Map(
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "xmx_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "jdk" -> System.getProperty("java.version"),
      "master" -> sc.master,
      "data_dir" -> dataDir)
    val out = Json.obj(
      "workload" -> workloadName,
      "seed" -> seed,
      "host" -> host,
      "setup_s" -> setupS,
      "peak_rss_mb" -> peakRssMb,
      "source_rows" -> workload.sourceRows,
      "ops" -> records.map(r => Json.Raw(r.json)))
    Files.write(Paths.get(outFile), out.getBytes("UTF-8"))
    if (trace)
      Files.write(Paths.get(s"$workDir/spans_$workloadName.jsonl"),
        tracer.spansJson.mkString("", "\n", "\n").getBytes("UTF-8"))
    spark.stop()
  }

  /** ETL write time by destination: staging CSVs, warehouse tables, and
    * the dim_date MERGE (its staged temp plus the swap back).
    */
  private def writeLayers(tracer: Tracer, op: Int): Map[String, Double] = {
    val w = tracer.counterOf(op).writes
    def sum(p: String => Boolean) = w.filter(x => p(x.path)).map(_.ms).sum / 1e3
    val isDate = (p: String) => p.contains("dim_date")
    Map(
      "etl.stage_write_s" -> sum(p => p.contains("/staging/")),
      "etl.warehouse_write_s" -> sum(p => p.contains("/warehouse/") && !isDate(p)),
      "etl.date_upsert_s" -> sum(p => p.contains("/warehouse/") && isDate(p)))
  }
}
