package graft

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.etl.{Catalog, Pipeline, RetailDataGen, ValidationReport}
import graft.operators.{Salting, ScalableKeys}
import graft.sources.Tables

/** Golden end-to-end run of the retail ETL (SURVEY.md §5 "golden
  * pipeline test"): generate seeded CSVs -> full pipeline -> assert the
  * reference's own invariants (K1-K4) + KPI aggregates + idempotency.
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Files.createTempDirectory("graft_e2e").toString
  private lazy val wh = {
    RetailDataGen.writeAll(spark, s"$base/raw", baseRows = 500)
    Pipeline.run(spark, s"$base/raw", s"$base/staging", s"$base/warehouse")
  }

  test("pipeline loads a complete star: counts, no orphan keys") {
    wh // force
    val fact = spark.read.parquet(s"$base/warehouse/fact_sales")
    assert(fact.count() === 2500) // baseRows*5, all rows survive cleaning
    assert(fact.filter($"customer_key".isNull || $"product_key".isNull ||
      $"store_key".isNull || $"date_key".isNull).count() === 0)
    val dimC = spark.read.parquet(s"$base/warehouse/dim_customer")
    assert(dimC.count() === dimC.select("customer_key").distinct().count())
  }

  test("staged CSVs are written and re-readable (A2 roundtrip)") {
    wh
    val staged = Tables.readCsv(spark, s"$base/staging/stg_customer",
      Tables.customersCsvSchema)
    assert(staged.count() > 0)
  }

  test("dim_date: one row per distinct sale date, 2-year window (<=731)") {
    wh
    val dd = spark.read.parquet(s"$base/warehouse/dim_date")
    assert(dd.count() === dd.select("date_key").distinct().count())
    assert(dd.count() <= 731)
    assert(dd.filter($"weekday" < 1 || $"weekday" > 7).count() === 0)
  }

  test("re-run is idempotent: same warehouse counts (I1/I2)") {
    wh
    val before = spark.read.parquet(s"$base/warehouse/fact_sales").count()
    val ddBefore = spark.read.parquet(s"$base/warehouse/dim_date").count()
    Pipeline.run(spark, s"$base/raw", s"$base/staging", s"$base/warehouse")
    assert(spark.read.parquet(s"$base/warehouse/fact_sales").count() === before)
    assert(spark.read.parquet(s"$base/warehouse/dim_date").count() === ddBefore)
  }

  /** Job starts per job group while `f` runs (SparkListener). A marker
    * job in its own group runs last and drains the async listener bus:
    * events reach a listener in order, so once the marker's start has
    * arrived every earlier job start has too. Also returns the ids of
    * jobs that started but had not ended by then.
    */
  private def jobsByGroup(f: => Unit): (Map[String, Int], Set[Int]) = {
    import scala.jdk.CollectionConverters._
    val counts = new ConcurrentHashMap[String, Int]()
    val open = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val g = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("")
        if (g == "drain-marker") drained.countDown()
        else { counts.merge(g, 1, _ + _); open.add(j.jobId) }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = open.remove(j.jobId)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      try f finally {
        sc.setJobGroup("drain-marker", "drain-marker")
        try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      }
      assert(drained.await(60, TimeUnit.SECONDS), "listener bus not drained")
      (counts.asScala.toMap, open.asScala.toSet)
    } finally sc.removeSparkListener(listener)
  }

  private def inGroup(group: String)(f: => Unit): Unit = {
    spark.sparkContext.setJobGroup(group, group)
    try f finally spark.sparkContext.clearJobGroup()
  }

  /** Part files of a table directory: name -> mtime. */
  private def partFiles(dir: String): Map[String, Long] =
    new File(dir).listFiles().filter(_.getName.startsWith("part-"))
      .map(f => f.getName -> f.lastModified()).toMap

  test("second run: keyed dims and fact untouched, dim_date identical, fewer jobs") {
    val b = Files.createTempDirectory("graft_rerun").toString
    RetailDataGen.writeAll(spark, s"$b/raw", baseRows = 200)
    def load(): Unit =
      Pipeline.run(spark, s"$b/raw", s"$b/staging", s"$b/warehouse")
    val (first, _) = jobsByGroup(inGroup("etl-first")(load()))
    val tables = Seq("dim_customer", "dim_product", "dim_store", "fact_sales")
    val filesBefore = tables.map(t => t -> partFiles(s"$b/warehouse/$t")).toMap
    val dateBefore = spark.read.parquet(s"$b/warehouse/dim_date").collect()
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val (second, open) = jobsByGroup(inGroup("etl-second")(load()))
    // no key assignment: withSequentialIds persists its RDD hop
    assert(spark.sparkContext.getPersistentRDDs.keySet.subsetOf(cachedBefore))
    // every job ran under the caller's group, pool threads included
    assert(first.keySet === Set("etl-first"))
    assert(second.keySet === Set("etl-second"))
    assert(open.isEmpty)
    assert(second("etl-second") < first("etl-first"))
    tables.foreach { t =>
      assert(filesBefore(t).nonEmpty)
      assert(partFiles(s"$b/warehouse/$t") === filesBefore(t), t)
    }
    val dateAfter = spark.read.parquet(s"$b/warehouse/dim_date").collect()
    assert(dateAfter.sortBy(_.getInt(0)).toSeq ===
      dateBefore.sortBy(_.getInt(0)).toSeq)
    assert(!new File(s"$b/warehouse/dim_date._staged").exists())
  }

  test("run with a missing raw sales directory throws the AnalysisException") {
    val b = Files.createTempDirectory("graft_nosales").toString
    RetailDataGen.writeAll(spark, s"$b/raw", baseRows = 50)
    Catalog.deletePath(spark, s"$b/raw/sales")
    intercept[AnalysisException](
      Pipeline.run(spark, s"$b/raw", s"$b/staging", s"$b/warehouse"))
    eventually(timeout(10.seconds)) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
  }

  test("a failed overlapped write surfaces its own exception after the rest finish") {
    val b = Files.createTempDirectory("graft_badstage").toString
    RetailDataGen.writeAll(spark, s"$b/raw", baseRows = 50)
    // staging under a regular file: the four staging writes fail on the
    // pool while the warehouse writes succeed
    Files.createFile(java.nio.file.Paths.get(s"$b/not_a_dir"))
    // an IOException, not the pool's ExecutionException wrapper
    val (_, open) = jobsByGroup(intercept[java.io.IOException](
      Pipeline.run(spark, s"$b/raw", s"$b/not_a_dir/staging", s"$b/warehouse")))
    assert(open.isEmpty)
    Seq("dim_customer", "dim_product", "dim_store", "dim_date", "fact_sales")
      .foreach(t => assert(new File(s"$b/warehouse/$t/_SUCCESS").exists(), t))
    eventually(timeout(10.seconds)) {
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
    }
  }

  test("validation report on crafted bad data equals the one-check-per-job form") {
    val customers = Seq((1, "a"), (2, null), (2, "b"), (3, "c"))
      .toDF("customer_id", "name")
    val products = Seq((10, "p"), (11, null)).toDF("product_id", "name")
    val stores = Seq((100, "s")).toDF("store_id", "city")
    val sales = Seq[(Int, Integer, Integer, Integer, java.lang.Double)](
      (1, 1, 10, 100, 1.0),    // clean
      (2, 9, 10, 100, 2.0),    // orphan customer
      (3, null, 10, 100, 3.0), // null customer FK
      (4, 9, 99, 100, null),   // misses two dims, one null cell
      (5, 2, 11, 100, 5.0))    // duplicated customer id: still one match
      .toDF("sales_id", "customer_id", "product_id", "store_id", "amount")
    val r = ValidationReport.validate(customers, products, stores, sales)

    val tables = Map("customers" -> customers, "products" -> products,
      "stores" -> stores, "sales" -> sales)
    def nullCells(df: DataFrame): Long = df.agg(df.columns
      .map(c => sum(col(c).isNull.cast("long"))).reduce(_ + _)).head().getLong(0)
    def anti(dim: DataFrame, id: String): Long =
      sales.join(dim.select(id), Seq(id), "left_anti").count()
    val old = ValidationReport.Report(
      tables.map { case (n, df) => n -> df.count() },
      tables.map { case (n, df) => n -> nullCells(df) },
      anti(customers, "customer_id") + anti(products, "product_id") +
        anti(stores, "store_id"))
    assert(r === old)
    assert(r.badFkRows === 4)
    assert(r.rowCounts === Map("customers" -> 4, "products" -> 2,
      "stores" -> 1, "sales" -> 5))
    assert(r.nullCells === Map("customers" -> 1, "products" -> 1,
      "stores" -> 0, "sales" -> 2))
  }

  test("validation report: 0 nulls in cleaned frames, 0 bad FKs (K1-K3)") {
    val (c, p, s, sl) = Pipeline.extractAndClean(spark, s"$base/raw")
    val r = ValidationReport.validate(c, p, s, sl)
    assert(r.rowCounts("sales") === 2500)
    assert(r.badFkRows === 0)
    assert(r.nullCells.values.sum === 0)
    ValidationReport.writeReport(r, s"$base/validation_report.txt")
    assert(new String(Files.readAllBytes(
      java.nio.file.Paths.get(s"$base/validation_report.txt")))
      .contains("sales_rows_with_bad_fk: 0"))
  }

  test("KPI aggregates over the warehouse match direct computation (F5-F7)") {
    wh
    val fact = spark.read.parquet(s"$base/warehouse/fact_sales")
    val direct = Pipeline.extractAndClean(spark, s"$base/raw")._4
    val kpiFact = fact.agg(
      sum($"total_amount".cast("decimal(18,2)")).as("rev"),
      countDistinct($"customer_key").as("nc")).head()
    val kpiDirect = direct.agg(
      sum($"total_amount".cast("decimal(18,2)")).as("rev"),
      countDistinct($"customer_id").as("nc")).head()
    assert(kpiFact.getDecimal(0) === kpiDirect.getDecimal(0))
    assert(kpiFact.getLong(1) === kpiDirect.getLong(1))
  }

  test("catalog ops: create-if-absent, exists guard, drop, script runner") {
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Catalog.dropTable(spark, "graft_cat_test")
    // a dropped managed table can leave its location behind if a prior
    // run died mid-create; clear it so create-if-absent is exercisable
    Catalog.deletePath(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_cat_test")
    assert(!Catalog.tableExists(spark, "graft_cat_test"))
    Catalog.createTableIfAbsent(spark, "graft_cat_test", df)
    assert(Catalog.tableExists(spark, "graft_cat_test"))
    Catalog.createTableIfAbsent(spark, "graft_cat_test", df.limit(1)) // no-op
    assert(spark.table("graft_cat_test").count() === 2)
    val results = Catalog.runScript(spark,
      """-- comment
        |SELECT COUNT(*) AS n FROM graft_cat_test;
        |SELECT 1 AS one;
        |""".stripMargin)
    assert(results.length === 2)
    assert(results.head.as[Long].head() === 2L)
    Catalog.dropTable(spark, "graft_cat_test")
  }

  test("runScript: ';' inside quoted literals/comments does not split (J6)") {
    assert(Catalog.splitStatements(
      "INSERT INTO t VALUES ('a;b');\n-- note; semicolon\nSELECT 'x''y;z';\nSELECT 1")
      .map(_.trim).filter(_.nonEmpty) === Seq(
        "INSERT INTO t VALUES ('a;b')",
        "-- note; semicolon\nSELECT 'x''y;z'",
        "SELECT 1"))
    // double-quoted strings (Spark's non-ANSI default dialect) too
    assert(Catalog.splitStatements("SELECT \"a;b\" AS s; SELECT \"x\"\"y;\"")
      .map(_.trim).filter(_.nonEmpty) === Seq(
        "SELECT \"a;b\" AS s", "SELECT \"x\"\"y;\""))
    Catalog.dropTable(spark, "graft_script_q")
    Catalog.deletePath(spark,
      spark.conf.get("spark.sql.warehouse.dir") + "/graft_script_q")
    Catalog.runScript(spark,
      """CREATE TABLE graft_script_q (s STRING) USING parquet;
        |INSERT INTO graft_script_q VALUES ('a;b');
        |INSERT INTO graft_script_q VALUES ('c''d;e')""".stripMargin)
    assert(spark.table("graft_script_q").as[String].collect().toSet ===
      Set("a;b", "c'd;e"))
    Catalog.dropTable(spark, "graft_script_q")
  }

  test("parquet append sink accumulates batches (A3)") {
    val dir = Files.createTempDirectory("graft_append").toString + "/t"
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    Tables.appendParquet(df, dir)
    Tables.appendParquet(df, dir)
    assert(spark.read.parquet(dir).count() === 4)
  }

  test("ScalableKeys: dense sequential ids without a global sort") {
    val df = spark.range(0, 10000).toDF("v").repartition(8)
    val withIds = ScalableKeys.withSequentialIds(df, "id", startAt = 100)
    assert(withIds.count() === 10000)
    val ids = withIds.select("id").as[Long].collect().sorted
    assert(ids.head === 100 && ids.last === 10099)
    assert(ids.distinct.length === 10000)
  }

  test("Salting: salted join and salted sum equal their unsalted twins") {
    val large = spark.range(0, 5000)
      .select((col("id") % 10).as("k"), col("id").as("v"))
    val small = Seq((0L, "x"), (1L, "y"), (2L, "z")).toDF("k", "name")
    val plain = large.join(small, "k")
    val salted = Salting.saltedEquiJoin(large, small, "k", 4)
    assert(salted.count() === plain.count())
    assert(salted.agg(sum("v")).head().getLong(0) ===
      plain.agg(sum("v")).head().getLong(0))

    val plainSum = large.groupBy("k").agg(sum("v").as("sum_v"))
      .orderBy("k").collect()
    val saltedSum = Salting.saltedSum(large, "k", "v", 4)
      .orderBy("k").collect()
    assert(plainSum.sameElements(saltedSum))
  }
}
