package graft.etl

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Joins
import graft.sources.Tables

/** The reference generator's validation report (SURVEY.md §2 K1-K3;
  * `scripts/generate_data.py:286-309`, `data/validation_report.txt`):
  * row counts, per-table null-cell totals, FK referential integrity —
  * written as a small text report. Five independent actions (one
  * count-and-null-cells agg per table, one bad-FK count) overlap on a
  * [[Tables.withOverlapPool]]; only the scalar counts are collected.
  */
object ValidationReport {

  case class Report(rowCounts: Map[String, Long],
    nullCells: Map[String, Long], badFkRows: Long) {
    def render: String = {
      val counts = rowCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => s"rows $t: $n" }
      val nulls = nullCells.toSeq.sortBy(_._1)
        .map { case (t, n) => s"null_cells $t: $n" }
      (counts ++ nulls :+ s"sales_rows_with_bad_fk: $badFkRows")
        .mkString("", "\n", "\n")
    }
  }

  /** (row count, null cells) of `df` in one aggregation. */
  private def countAndNulls(df: DataFrame): (Long, Long) = {
    val nulls = df.columns.map(c => sum(col(c).isNull.cast("long")))
    val r = df.agg(count(lit(1)), nulls.reduce(_ + _)).head()
    (r.getLong(0), r.getLong(1))
  }

  def validate(customers: DataFrame, products: DataFrame, stores: DataFrame,
      sales: DataFrame): Report = {
    val tables = Seq("customers" -> customers, "products" -> products,
      "stores" -> stores, "sales" -> sales)
    // FK integrity (anti-join, E7/K2): a sales row counts once per dim it
    // misses. The generated dims scale with --rows, so the broadcast is
    // SIZE-GATED: past the threshold Catalyst/AQE shuffle the anti-join.
    val badFk = Seq(customers -> "customer_id", products -> "product_id",
        stores -> "store_id").map { case (dim, id) =>
      sales.join(Joins.broadcastIfSmall(dim.select(id)), Seq(id), "left_anti")
    }.reduce(_ unionByName _)
    Tables.withOverlapPool(tables.size) { pool =>
      val perTable = tables.map { case (n, df) =>
        Tables.submitJob(pool, df.sparkSession, s"validate $n")(countAndNulls(df))
      }
      val bad = badFk.count()
      val stats = tables.map(_._1).zip(Tables.awaitAll(perTable)).toMap
      Report(stats.map { case (n, s) => n -> s._1 },
        stats.map { case (n, s) => n -> s._2 }, bad)
    }
  }

  def writeReport(report: Report, path: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), report.render)
  }
}
