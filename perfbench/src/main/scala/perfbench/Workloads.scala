package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

import graft.SparkEntry
import graft.etl.{Pipeline, RetailDataGen, ValidationReport}

/** One benchmark workload: a set of named operations run in a seeded
  * order each round, a set-up step and an output check.
  */
trait Workload {
  def ops: Seq[String]

  /** Input generation and warm-up after a fresh session is built. */
  def setup(spark: SparkSession): Unit

  /** The timed part of one operation; `cold` is true in the first
    * round. Returns the figures it measured of its own (sub-spans),
    * keyed by per-layer metric name.
    */
  def run(spark: SparkSession, op: String, cold: Boolean): Map[String, Double]

  /** Checks the output of the operation just run; `Some(reason)` when
    * it is wrong.
    */
  def check(spark: SparkSession, op: String): Option[String]

  /** Source rows one operation loads, where that is fixed; else 0. */
  def sourceRows: Long = 0L

  /** Per-layer figures read from the operation's output, if any. */
  def outputLayers: Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String, dataDir: String, workDir: String, seed: Long,
      digests: Map[String, Digest]): Workload = name match {
    case "bi_dashboard" => new BiDashboard(dataDir, digests)
    case "etl_load" => new EtlLoad(workDir, seed)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Runs `f` under a job group outside every operation's, so the
    * traced run does not count the harness's own jobs as the program's.
    */
  def outsideOp[A](spark: SparkSession)(f: => A): A = {
    val sc = spark.sparkContext
    val prev = Option(sc.getLocalProperty("spark.jobGroup.id"))
    sc.setJobGroup("perfbench-harness", "harness", interruptOnCancel = false)
    try f
    finally prev match {
      case Some(g) => sc.setJobGroup(g, g, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** The paper's BI surface: insight queries, KPIs, warehouse build, data
  * quality checks and the RetailBi queries. Warm rounds force each query
  * with a noop write; the cold round consumes each result into its
  * digest, so the first pass is also the output check.
  */
final class BiDashboard(dataDir: String, digests: Map[String, Digest])
    extends Workload {
  val ops: Seq[String] = BiDashboard.Queries

  private def frame(spark: SparkSession, q: String) =
    SparkEntry.queries(q)(spark, dataDir)

  def setup(spark: SparkSession): Unit =
    frame(spark, "q01_top_products").write.format("noop").mode("overwrite").save()

  /** Digest of the last cold execution, until it is checked. */
  private var digested: Option[Digest] = None

  def run(spark: SparkSession, op: String, cold: Boolean): Map[String, Double] = {
    if (cold) digested = Some(Digest.of(frame(spark, op)))
    else frame(spark, op).write.format("noop").mode("overwrite").save()
    Map.empty
  }

  def check(spark: SparkSession, op: String): Option[String] = {
    val got = digested
    digested = None
    (got, digests.get(op)) match {
      case (None, _) => None // a noop-forced warm execution has no output
      case (_, None) => Some("no expected digest")
      case (Some(g), Some(want)) if want != g =>
        Some(s"digest ${g.rows} rows/${g.hex}, " +
          s"expected ${want.rows} rows/${want.hex}")
      case _ => None
    }
  }
}

object BiDashboard {
  val Queries: Seq[String] = Seq(
    "q01_top_products", "q02_monthly_revenue", "q03_revenue_by_store",
    "q04_balance_bucket", "q05_kpi_summary", "q06_category_share",
    "q07_dim_date", "q08_dim_store", "q09_fact_sales", "q10_fk_integrity",
    "q11_null_audit", "q12_row_counts", "q13_date_upsert",
    "q93_rfm_segments", "q94_basket_pairs", "q95_abc_classes",
    "q96_new_vs_returning", "q97_ship_lag", "q114_weekday_seasonality")
}

/** The paper's ETL: seeded retail CSVs, one full load into an empty
  * warehouse, the validation report, then a second load over the loaded
  * warehouse (idempotent skip plus the dim_date MERGE upsert).
  */
final class EtlLoad(workDir: String, seed: Long) extends Workload {
  import EtlLoad._

  val ops: Seq[String] = Seq("load")

  override def sourceRows: Long =
    BaseRows * 2 + math.max(BaseRows / 10, 5L) + BaseRows * 5

  private val raw = s"$workDir/etl/raw"
  private val staging = s"$workDir/etl/staging"
  private val warehouse = s"$workDir/etl/warehouse"
  private var report: Option[ValidationReport.Report] = None
  private var firstCounts: Map[String, Long] = Map.empty

  def setup(spark: SparkSession): Unit = {
    Workload.deleteTree(new File(raw))
    RetailDataGen.writeAll(spark, raw, BaseRows, seed)
  }

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def run(spark: SparkSession, op: String, cold: Boolean): Map[String, Double] = {
    Workload.deleteTree(new File(staging))
    Workload.deleteTree(new File(warehouse))
    report = None
    firstCounts = Map.empty
    val (_, first) = timed(Pipeline.run(spark, raw, staging, warehouse))
    val (r, validate) = timed {
      val (c, p, s, sl) = Pipeline.extractAndClean(spark, raw)
      ValidationReport.validate(c, p, s, sl)
    }
    report = Some(r)
    // counted outside the timed segments, between the two loads
    firstCounts = Workload.outsideOp(spark)(tableCounts(spark))
    val (_, second) = timed(Pipeline.run(spark, raw, staging, warehouse))
    Map("op_ms" -> (first + validate + second), "etl.validate_s" -> validate / 1e3)
  }

  private def tableCounts(spark: SparkSession): Map[String, Long] =
    Tables.map(t => t -> spark.read.parquet(s"$warehouse/$t").count()).toMap

  def check(spark: SparkSession, op: String): Option[String] = {
    val r = report.getOrElse(return Some("no validation report"))
    val expected = Map("customers" -> BaseRows, "products" -> BaseRows,
      "stores" -> math.max(BaseRows / 10, 5L), "sales" -> BaseRows * 5)
    val fact = spark.read.parquet(s"$warehouse/fact_sales")
    val nullKeys = fact.filter(Seq("customer_key", "product_key", "store_key",
      "date_key").map(col(_).isNull).reduce(_ || _)).count()
    val after = tableCounts(spark)
    val problems = Seq(
      Option.when(r.rowCounts != expected)(s"row counts ${r.rowCounts}"),
      Option.when(r.badFkRows != 0)(s"${r.badFkRows} bad-FK rows"),
      Option.when(r.nullCells.values.sum != 0)(s"null cells ${r.nullCells}"),
      Option.when(nullKeys != 0)(s"$nullKeys fact rows with a null key"),
      Option.when(firstCounts("fact_sales") != expected("sales"))(
        s"fact_sales has ${firstCounts("fact_sales")} rows"),
      Option.when(after != firstCounts)(
        s"second load changed counts $firstCounts -> $after")).flatten
    if (problems.isEmpty) None else Some(problems.mkString("; "))
  }

  /** Bytes and files the load left under staging and warehouse. */
  override def outputLayers: Map[String, Double] = {
    def files(f: File): Seq[File] =
      Option(f.listFiles()).toSeq.flatten.flatMap(c =>
        if (c.isDirectory) files(c) else Seq(c))
    val written = files(new File(staging)) ++ files(new File(warehouse))
    val input = files(new File(raw)).map(_.length).sum
    Map("etl.bytes_written_per_input_byte" ->
        (if (input > 0) written.map(_.length).sum.toDouble / input else 0.0),
      "etl.files_written" -> written.size.toDouble)
  }
}

object EtlLoad {
  /** `RetailDataGen` scale: baseRows customers and products, a tenth as
    * many stores and five times as many sales.
    */
  val BaseRows = 10000L
  val Tables = Seq("dim_customer", "dim_product", "dim_store", "dim_date",
    "fact_sales")
}
