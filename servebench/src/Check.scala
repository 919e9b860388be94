package servebench

import scala.util.hashing.MurmurHash3

/** Fingerprint of one statement's result rows (JSON lines as the gateway
  * sends them). A statement with ORDER BY is compared as an ordered list;
  * any other as a multiset, since a shared window and an isolated run may
  * stream partitions in different orders. Rows are folded into 64-bit hashes
  * instead of being kept, so checking a 50k-row response costs one pass over
  * its lines and the reference answers add almost nothing to the heap. */
final class Fingerprint(ordered: Boolean) {
  private var n = 0L
  private var h = 0L

  def add(row: String): Unit = {
    val r = Fingerprint.mix((MurmurHash3.stringHash(row, 0x5eed).toLong << 32) ^
      (MurmurHash3.stringHash(row, 0x0b5e55ed).toLong & 0xffffffffL))
    h = if (ordered) h * 0x9e3779b97f4a7c15L + r else h + r
    n += 1
  }

  def rows: Long = n
  def value: (Long, Long) = (n, h)
}

object Fingerprint {
  private def mix(x0: Long): Long = {
    var x = x0
    x = (x ^ (x >>> 33)) * 0xff51afd7ed558ccdL
    x = (x ^ (x >>> 33)) * 0xc4ceb9fe1a85ec53L
    x ^ (x >>> 33)
  }

  private val OrderBy = "(?i)\\border\\s+by\\b".r

  def orderedFor(sql: String): Boolean = OrderBy.findFirstIn(sql).isDefined

  def of(sql: String, rows: Iterable[String]): (Long, Long) = {
    val f = new Fingerprint(orderedFor(sql))
    rows.foreach(f.add)
    f.value
  }
}

/** The check's own test: one corrupted row must fail it. Runs without Spark:
  * `python3 servebench/run.py --self-test`. */
object CheckTest {
  def main(args: Array[String]): Unit = {
    val rows = (1 to 500).map(i => s"""{"k":$i,"v":"row-$i"}""")
    val corrupt = rows.updated(250, """{"k":251,"v":"row-25l"}""")
    val unordered = "SELECT k, v FROM t"
    val ordered = "SELECT k, v FROM t ORDER BY k"
    def same(sql: String, a: Seq[String], b: Seq[String]) =
      Fingerprint.of(sql, a) == Fingerprint.of(sql, b)
    val cases = Seq(
      "a corrupted row fails an unordered statement" -> !same(unordered, rows, corrupt),
      "a corrupted row fails an ordered statement" -> !same(ordered, rows, corrupt),
      "a missing row fails" -> !same(unordered, rows, rows.init),
      "a duplicated row fails" -> !same(unordered, rows, rows :+ rows.head),
      "another row order passes an unordered statement" -> same(unordered, rows, rows.reverse),
      "another row order fails an ordered statement" -> !same(ordered, rows, rows.reverse),
      "ORDER BY is recognised in any case and spacing" ->
        (Fingerprint.orderedFor("select 1 order  by x") && !Fingerprint.orderedFor("SELECT border_by FROM t")))
    cases.foreach { case (name, ok) => println(s"${if (ok) "pass" else "FAIL"}: $name") }
    if (!cases.forall(_._2)) sys.exit(1)
  }
}
