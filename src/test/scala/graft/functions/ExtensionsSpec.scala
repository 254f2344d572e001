package graft.functions

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The SparkSessionExtensions injection path — what a user configures
  * via `spark.sql.extensions=graft.functions.GraftExtensions` — must
  * expose the same SQL functions as Curves.register. */
class ExtensionsSpec extends AnyFunSuite with LocalSparkSuite {

  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  test("injected functions resolve through the SQL parser") {
    val r = spark.sql(
      """SELECT curve_key_str(hilbert_encode(array(tinyint(1), tinyint(2), tinyint(3)))) AS h,
        |       curve_key_str(morton_encode(array(tinyint(1), tinyint(2), tinyint(3)))) AS m,
        |       hilbert_decode(22, 3, false, false, 32) AS pt
        |""".stripMargin).head()
    assert(r.getString(0) == "22") // reference golden test/sql/lindel.test:15-18
    assert(r.getString(1) == "29") // :20-23
    assert(r.getSeq[Int](2) == Seq(1, 2, 3)) // :25-28
  }

  test("DESCRIBE FUNCTION surfaces the registered usage docs (reference :959-978)") {
    Curves.functions.foreach { f =>
      val desc = spark.sql(s"DESCRIBE FUNCTION ${f.name}")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(s"Function: ${f.name}"), desc)
      assert(desc.contains(f.usage), s"usage doc missing for ${f.name}:\n$desc")
    }
  }

  test("DESCRIBE FUNCTION EXTENDED surfaces the examples (reference :959-978)") {
    Curves.functions.foreach { f =>
      val desc = spark.sql(s"DESCRIBE FUNCTION EXTENDED ${f.name}")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains("Examples:"), s"examples missing for ${f.name}:\n$desc")
      assert(desc.contains(s"> SELECT ${f.name}("), s"example not rendered for ${f.name}:\n$desc")
    }
  }

  test("beyond-reference expressions resolve through the SQL parser") {
    val r = spark.sql(
      """SELECT
        |  dot_q(array(bigint(1), bigint(2)), array(bigint(3), bigint(4))) AS dq,
        |  intersect_count_sorted(array(bigint(1), bigint(2), bigint(3)),
        |                         array(bigint(2), bigint(3), bigint(5))) AS ic,
        |  simhash32(array('')) AS sh,
        |  size(shingle_minhash(array('a','b','c','d'), 3, 12)) AS mh_n,
        |  size(shingle_hashes(array('a','b','c','d'), 3)) AS shn,
        |  length(shingle_min_md5(array('a','b','c','d'), 3)) AS fp_len,
        |  size(hyperplane_band_keys(array(bigint(5), bigint(-7)), 48, 8)) AS hp_n
        |""".stripMargin).head()
    assert(r.getLong(0) == 11L)        // 1*3 + 2*4
    assert(r.getLong(1) == 2L)         // {2,3}
    assert(r.getLong(2) == 0xd41d8cd9L) // md5('') prefix — the empty-token golden
    assert(r.getInt(3) == 12)
    assert(r.getInt(4) == 2)           // "a b c", "b c d"
    assert(r.getInt(5) == 32)
    assert(r.getInt(6) == 6)           // 48 planes / 8 bits
  }
}
