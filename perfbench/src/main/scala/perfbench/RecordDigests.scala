package perfbench

import java.nio.file.{Files, Paths}

/** Writes the expected-output digests of the query workload from a
  * `graft.Verify` dump whose results passed `dev/compare_driver.py`
  * against the DuckDB oracle on the same data directory.
  *
  * Usage: RecordDigests <verifyOutDir> <digestFile>
  */
object RecordDigests {
  def main(args: Array[String]): Unit = {
    val Array(verifyOut, digestFile) = args
    val spark = Harness.buildSession(
      Files.createTempDirectory("perfbench-digests").toString)
    val entries = BiDashboard.Queries.sorted.map { q =>
      val d = Digest.of(spark.read.parquet(s"$verifyOut/$q"))
      s"  ${Json.str(q)}: ${Json.obj("rows" -> d.rows, "hash" -> d.hex)}"
    }
    Files.write(Paths.get(digestFile),
      entries.mkString("{\n", ",\n", "\n}\n").getBytes("UTF-8"))
    spark.stop()
  }
}
