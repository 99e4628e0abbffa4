package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class HarnessSpec extends AnyFunSuite {
  private val rows = Seq(
    Row(1L, "a", 2.5, null), Row(2L, "b", -0.0, Seq(1, 2)),
    Row(3L, "c", 1e-9, Row("x", BigDecimal("1.50"))))

  test("digest ignores row order") {
    val d = Digest.ofRows(rows.iterator)
    assert(Digest.ofRows(rows.reverse.iterator) === d)
    assert(Digest.ofRows(Seq(rows(1), rows(2), rows(0)).iterator) === d)
    assert(d.rows === 3)
  }

  test("digest sees duplicates, changed cells and canonicalises zeros") {
    val d = Digest.ofRows(rows.iterator)
    assert(Digest.ofRows((rows :+ rows.head).iterator) !== d)
    assert(Digest.ofRows((rows.init :+ Row(3L, "c", 1e-8,
      Row("x", BigDecimal("1.50")))).iterator) !== d)
    assert(Digest.ofRows(Iterator(Row(-0.0))) === Digest.ofRows(Iterator(Row(0.0))))
    assert(Digest.ofRows(Iterator(Row(BigDecimal("1.50")))) ===
      Digest.ofRows(Iterator(Row(BigDecimal("1.5")))))
  }

  test("an operation that throws is a failure named by its exception class") {
    val (_, own, error) = Harness.timeOp(() => throw new IllegalStateException("boom"))
    assert(own.isEmpty)
    assert(error.exists(_.startsWith("java.lang.IllegalStateException: boom")))
    val (ms, _, ok) = Harness.timeOp(() => Map("op_ms" -> 12.5))
    assert(ok.isEmpty && ms === 12.5)
  }

  test("a wrong output or a throwing check is a failure") {
    assert(Harness.checkOp(() => None).isEmpty)
    assert(Harness.checkOp(() => Some("3 rows")).contains("wrong output: 3 rows"))
    assert(Harness.checkOp(() => throw new ArithmeticException("x"))
      .exists(_.contains("java.lang.ArithmeticException")))
  }

  test("covered time is the union of child intervals clipped to the parent") {
    assert(Tracer.covered(0, 100, Nil) === 0)
    assert(Tracer.covered(0, 100, Seq((10L, 30L), (20L, 40L), (90L, 150L))) === 40)
    assert(Tracer.covered(50, 60, Seq((0L, 100L))) === 10)
  }

  test("the seeded order is a permutation that depends on seed and round") {
    val ops = BiDashboard.Queries
    assert(Harness.order(ops, 7, 1).sorted === ops.sorted)
    assert(Harness.order(ops, 7, 1) === Harness.order(ops, 7, 1))
    assert(Harness.order(ops, 7, 1) !== Harness.order(ops, 8, 1))
    assert(Harness.order(ops, 7, 1) !== Harness.order(ops, 7, 2))
  }
}
