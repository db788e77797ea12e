package perfbench

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val cols = Seq("name", "n", "score", "tags")
  private val rows = Seq(
    Row("a", 1L, 0.1 + 0.2, Seq("x", "y")),
    Row("b", 2L, null, Seq.empty[String]),
    Row("c", 3L, 2.5, Seq("z")),
    Row("c", 3L, 2.5, Seq("z")))

  test("row order does not change the fingerprint") {
    val fp = Fingerprint.of(cols, rows)
    assert(rows.permutations.forall(p => Fingerprint.of(cols, p) == fp))
    assert(fp.startsWith("4:"))
  }

  test("column order does not change it, as the oracle compare sorts columns") {
    val perm = Seq(3, 1, 0, 2)
    val swapped = rows.map(r => Row.fromSeq(perm.map(r.get)))
    assert(Fingerprint.of(perm.map(cols), swapped) == Fingerprint.of(cols, rows))
  }

  test("a changed, lost or duplicated row changes it") {
    val fp = Fingerprint.of(cols, rows)
    assert(Fingerprint.of(cols, rows.updated(0, Row("a", 1L, 0.4, Seq("x", "y")))) != fp)
    assert(Fingerprint.of(cols, rows.dropRight(1)) != fp)
    assert(Fingerprint.of(cols, rows :+ rows.head) != fp)
    assert(Fingerprint.of(cols, rows.updated(0, Row("a", 1L, 0.1 + 0.2, Seq("y", "x")))) != fp)
  }

  test("last-bit float differences from summation order do not change it") {
    val a = Seq(Row("s", 0.1 + 0.2 + 0.3))
    val b = Seq(Row("s", 0.3 + 0.2 + 0.1))
    assert(0.1 + 0.2 + 0.3 != 0.3 + 0.2 + 0.1)
    assert(Fingerprint.of(Seq("k", "v"), a) == Fingerprint.of(Seq("k", "v"), b))
  }
}
