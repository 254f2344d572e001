package graft.functions

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

class CurveExpressionSpec extends AnyFunSuite with LocalSparkSuite {

  // fail loudly if our doGenCode emits Java that Janino can't compile,
  // instead of silently falling back to interpreted eval
  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
    "spark.sql.extensions" -> classOf[GraftExtensions].getName)

  test("SQL hilbert/morton encode + decode reproduce the reference 5x5 grid golden") {
    val rows = spark.sql(
      """SELECT a.id AS a, b.id AS b,
        |  hilbert_encode(array(tinyint(a.id), tinyint(b.id))) AS hilbert,
        |  morton_encode(array(tinyint(a.id), tinyint(b.id))) AS morton,
        |  hilbert_decode(hilbert_encode(array(tinyint(a.id), tinyint(b.id))), 2, false, false, 16) AS hd,
        |  morton_decode(morton_encode(array(tinyint(a.id), tinyint(b.id))), 2, false, false, 16) AS md
        |FROM range(5) a CROSS JOIN range(5) b ORDER BY a, b
        |""".stripMargin).collect()
    val expected = Seq( // lindel.test:44-68 (a, b, hilbert, morton)
      (0, 0, 0, 0), (0, 1, 3, 1), (0, 2, 4, 4), (0, 3, 5, 5), (0, 4, 58, 16),
      (1, 0, 1, 2), (1, 1, 2, 3), (1, 2, 7, 6), (1, 3, 6, 7), (1, 4, 57, 18),
      (2, 0, 14, 8), (2, 1, 13, 9), (2, 2, 8, 12), (2, 3, 9, 13), (2, 4, 54, 24),
      (3, 0, 15, 10), (3, 1, 12, 11), (3, 2, 11, 14), (3, 3, 10, 15), (3, 4, 53, 26),
      (4, 0, 16, 32), (4, 1, 17, 33), (4, 2, 30, 36), (4, 3, 31, 37), (4, 4, 32, 48))
    assert(rows.length == 25)
    rows.zip(expected).foreach { case (r, (a, b, h, m)) =>
      assert(r.getLong(0) == a && r.getLong(1) == b)
      assert(r.getInt(2) == h, s"hilbert($a,$b)") // u16 out -> IntegerType
      assert(r.getInt(3) == m, s"morton($a,$b)")
      assert(r.getSeq[Byte](4) == Seq(a.toByte, b.toByte), s"hilbert_decode($a,$b)")
      assert(r.getSeq[Byte](5) == Seq(a.toByte, b.toByte), s"morton_decode($a,$b)")
    }
  }

  test("output types follow the reference ladder (Short/Int/Long/Decimal/Binary)") {
    val df = spark.sql(
      """SELECT
        |  hilbert_encode(array(tinyint(1))) AS u8,
        |  hilbert_encode(array(tinyint(1), tinyint(2))) AS u16,
        |  hilbert_encode(array(int(1), int(2))) AS u64,
        |  hilbert_encode(array(bigint(1), bigint(2))) AS u128,
        |  hilbert_encode(array(float(1.0), float(2.0))) AS f2u64
        |""".stripMargin)
    val types = df.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap
    assert(types("u8") == "smallint")
    assert(types("u16") == "int")
    assert(types("u64") == "decimal(20,0)")
    assert(types("u128") == "binary")
    assert(types("f2u64") == "decimal(20,0)")
  }

  test("float goldens through SQL (docs/README.md:173-199)") {
    val r = spark.sql(
      """SELECT
        |  curve_key_str(hilbert_encode(array(float(37.8), float(0.2)))) AS f32pair,
        |  curve_key_str(hilbert_encode(array(double(37.8), double(0.2)))) AS f64pair,
        |  curve_key_str(hilbert_encode(array(float(1.0), float(5.0), float(6.0)))) AS f32triple
        |""".stripMargin).head()
    assert(r.getString(0) == "2303654869236839926")
    assert(r.getString(1) == "42534209309512799991913666633619307890")
    assert(r.getString(2) == "8002395622101954260073409974")
  }

  test("float decode round-trip (docs/README.md:281-287)") {
    val r = spark.sql(
      """SELECT hilbert_decode(hilbert_encode(array(float(1.0), float(5.0), float(6.0))), 3, true, false) AS v
        |""".stripMargin).head()
    assert(r.getSeq[Float](0) == Seq(1.0f, 5.0f, 6.0f))
  }

  test("signed round-trip [1,-2] bigint (docs/README.md:264-271)") {
    val r = spark.sql(
      "SELECT hilbert_decode(hilbert_encode(array(bigint(1), bigint(-2))), 2, false, false) AS v").head()
    assert(r.getSeq[Long](0) == Seq(1L, -2L))
  }

  test("NULL row -> NULL key; NULL element -> error (reference :684-694)") {
    // NULL array (the whole row value is NULL) -> NULL key
    val r = spark.sql(
      "SELECT hilbert_encode(CAST(NULL AS ARRAY<INT>), 2) AS k").head()
    assert(r.isNullAt(0))
    // NULL *element* inside the array -> hard error, like the reference
    val e = intercept[Exception] {
      spark.sql("SELECT hilbert_encode(array(int(1), int(NULL))) AS k").collect()
    }
    assert(e.getMessage.toLowerCase.contains("null"))
  }

  test("unsigned decode widens (docs/README.md:246-253): u16 key -> short elements") {
    val r = spark.sql("SELECT hilbert_decode(7, 2, false, true, 16) AS v").head()
    assert(r.getSeq[Short](0) == Seq(1.toShort, 2.toShort))
  }

  test("Column API: encode as orderBy key + decode round-trip on testdata") {
    import graft.functions.{Curves => C}
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val keyed = li.select(
      col("l_partkey"), col("l_linenumber"),
      C.hilbertEncode(col("l_partkey").cast("int"), col("l_linenumber")).as("hkey"))
    assert(keyed.schema("hkey").dataType.simpleString == "decimal(20,0)")
    val decoded = keyed.select(
      col("l_partkey"), col("l_linenumber"),
      C.hilbertDecode(col("hkey"), 2).as("pt"))
    val bad = decoded.filter(
      col("pt").getItem(0) =!= col("l_partkey").cast("int") ||
        col("pt").getItem(1) =!= col("l_linenumber")).count()
    assert(bad == 0)
    // ordering by the key must be stable and non-trivial
    val sorted = keyed.orderBy(col("hkey")).limit(3).collect()
    assert(sorted.nonEmpty)
  }

  test("arity/type errors are analysis-time (mirrors reference bind errors)") {
    val e1 = intercept[Exception] {
      spark.sql("SELECT hilbert_encode(array(bigint(1), bigint(2), bigint(3)))").collect()
    }
    assert(e1.getMessage.contains("128") || e1.getMessage.contains("max n"))
    val e2 = intercept[Exception] {
      spark.sql("SELECT hilbert_encode(array('a', 'b'))").collect()
    }
    assert(e2.getMessage.nonEmpty)
    val e3 = intercept[Exception] {
      spark.sql("SELECT hilbert_decode(7, 0, false, false)").collect()
    }
    assert(e3.getMessage.nonEmpty)
  }

  private def causeChain(t: Throwable): String = {
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).mkString("\n")
  }

  test("Decimal key outside the declared input width errors, never truncates") {
    // 2^64 in a Decimal(38,0) column claims a 64-bit key -> hard error
    val over = intercept[Throwable] {
      spark.sql(
        "SELECT hilbert_decode(CAST('18446744073709551616' AS DECIMAL(38,0)), 2, false, false)").collect()
    }
    assert(causeChain(over).contains("does not fit"), causeChain(over))
    val neg = intercept[Throwable] {
      spark.sql("SELECT hilbert_decode(CAST(-5 AS DECIMAL(20,0)), 2, false, false)").collect()
    }
    assert(causeChain(neg).toLowerCase.contains("negative"), causeChain(neg))
    val frac = intercept[Throwable] {
      spark.sql("SELECT hilbert_decode(CAST(1.5 AS DECIMAL(21,1)), 2, false, false)").collect()
    }
    assert(causeChain(frac).toLowerCase.contains("fractional"), causeChain(frac))
    // a wider Decimal carrier with an in-range value still decodes
    val ok = spark.sql(
      "SELECT hilbert_decode(CAST(7 AS DECIMAL(38,0)), 2, false, true, 16) AS v").head()
    assert(ok.getSeq[Short](0) == Seq(1.toShort, 2.toShort))
  }

  test("string encode: 'abcd' ordinals on the u8 curve (reference docs/README.md:206-213)") {
    import spark.implicits._
    val df = Seq("abcd").toDF("s").select(
      graft.functions.Curves.hilbertEncodeString(col("s"), 4).as("h"))
    assert(df.head().getLong(0) == 178258816L)
  }

  test("sort key is order-equivalent to the u64 curve key (incl. the top half of u64)") {
    import graft.functions.{Curves => C}
    import spark.implicits._
    // negative ints reinterpret to the top of the u32 space, driving
    // keys above 2^63 — exactly where a naive long sort would misorder
    val pts = Seq((-1, -1), (0, 0), (Int.MinValue, 5), (7, -3), (123456, 654321),
      (Int.MaxValue, Int.MaxValue), (-42, 42)).toDF("a", "b")
    for (hilbert <- Seq(true, false)) {
      val (sk, key) =
        if (hilbert) (C.hilbertSortKey(col("a"), col("b")), C.hilbertEncode(col("a"), col("b")))
        else (C.mortonSortKey(col("a"), col("b")), C.mortonEncode(col("a"), col("b")))
      val rows = pts.select(sk.as("sk"), key.as("key")).collect()
      val bySk = rows.sortBy(_.getLong(0)).map(_.getDecimal(1).toBigInteger.toString).toSeq
      val byKey = rows.map(_.getDecimal(1).toBigInteger).sortBy(x => BigInt(x)).map(_.toString).toSeq
      assert(bySk == byKey, s"hilbert=$hilbert")
    }
    // SQL path resolves too
    val r = spark.sql(
      "SELECT hilbert_sort_key(array(int(1), int(2))) AS h, morton_sort_key(array(int(1), int(2))) AS m").head()
    assert(r.getLong(0) == (spark.sql(
      "SELECT CAST(curve_key_str(hilbert_encode(array(int(1), int(2)))) AS BIGINT)").head().getLong(0) ^ Long.MinValue))
    assert(r.getLong(1) == (spark.sql(
      "SELECT CAST(curve_key_str(morton_encode(array(int(1), int(2)))) AS BIGINT)").head().getLong(0) ^ Long.MinValue))
    // wider-than-64-bit sort keys are an analysis-time error
    val e = intercept[Exception] {
      spark.sql("SELECT hilbert_sort_key(array(bigint(1), bigint(2)))").collect()
    }
    assert(e.getMessage.contains("64-bit"))
    // randomized: signed sort-key order == unsigned key order across the
    // whole u64 range (500 random int pairs, negatives drive the top half)
    val rnd = new scala.util.Random(49)
    val rand = (1 to 500).map(_ => (rnd.nextInt(), rnd.nextInt())).toDF("a", "b")
    val rr = rand.select(
      C.mortonSortKey(col("a"), col("b")).as("sk"),
      C.mortonEncode(col("a"), col("b")).as("key")).collect()
    val sks = rr.sortBy(_.getLong(0)).map(r => BigInt(r.getDecimal(1).toBigInteger)).toSeq
    assert(sks == sks.sorted)
  }

  test("u64 keys below, at and above 2^63 round-trip through Decimal(20,0) and curve_key_str") {
    import graft.functions.{Curves => C}
    import spark.implicits._
    val two63 = BigInt(1) << 63
    val keys = Seq(two63 - 1, two63, two63 + 1, (BigInt(1) << 64) - 1)
    // per key: the 2-D int point whose Hilbert key it is, and the key as a
    // 1-D bigint point (the 1-D curve is the identity)
    val local = keys.map { k =>
      val p = graft.core.SFC.decodeLongs("hilbert", k, 32, 2)
      (k.toString, p(0).toInt, p(1).toInt, k.toLong)
    }.toDF("k", "a", "b", "v")
    val key2 = C.hilbertEncode(col("a"), col("b"))
    val key1 = C.hilbertEncode(col("v"))
    // the local relation folds the projection (interpreted eval); the
    // repartitioned frame runs it in generated code
    for (df <- Seq(local, local.repartition(2))) {
      val out = df.select(col("k"), col("a"), col("b"),
        C.curveKeyStr(key2), C.hilbertDecode(key2, 2),
        C.curveKeyStr(key1), C.hilbertDecode(key1, 1, unsigned = true),
        C.hilbertDecode(col("k").cast("decimal(20,0)"), 2)).collect()
      assert(out.map(_.getString(0)).sorted.toSeq == keys.map(_.toString).sorted)
      out.foreach { r =>
        val k = r.getString(0)
        val pt = Seq(r.getInt(1), r.getInt(2))
        assert(r.getString(3) == k, s"2-D key of $pt")
        assert(r.getSeq[Int](4) == pt, s"2-D decode of $k")
        assert(r.getString(5) == k, "1-D key")
        assert(r.getSeq[java.math.BigDecimal](6).map(_.toBigInteger.toString) == Seq(k), s"1-D unsigned decode of $k")
        assert(r.getSeq[Int](7) == pt, s"decode of the decimal literal $k")
      }
    }
  }

  test("SparkEntry.entry: flagship query returns curve-ordered rows") {
    val rows = graft.SparkEntry.entry(spark).limit(50).collect()
    assert(rows.nonEmpty)
    // hkey column present and non-null; ordering is by the curve key
    val keys = rows.map(r => BigInt(r.getDecimal(3).toBigInteger))
    assert(keys.forall(_ != null))
    assert(keys.toSeq == keys.sorted.toSeq)
  }

  test("whole-stage codegen stays enabled over curve expressions") {
    val df = spark.sql(
      """SELECT sum(hilbert_encode(array(int(id), int(id + 1)))) AS s
        |FROM range(1000)""".stripMargin)
    val rows = df.collect() // collect() drives df's own plan; AQE finalizes it
    assert(rows.head.getDecimal(0) != null)
    // "*(n)" prefixes mark WholeStageCodegen spans in the simple plan string;
    // the aggregate over our expression must sit inside one
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("*(1) HashAggregate"), plan)
  }

  test("every registered function's documented examples execute to the shown output") {
    // DESCRIBE FUNCTION EXTENDED renders these examples; keep them honest
    // by executing each "> SELECT ...;" line and comparing the next line
    def fmt(v: Any): String = v match {
      case s: scala.collection.Seq[_] => s.map(fmt).mkString("[", ",", "]")
      case d: java.math.BigDecimal => d.toBigInteger.toString
      case other => String.valueOf(other)
    }
    val bad = Curves.functions.flatMap { f =>
      val ex = Curves.info(f).getExamples
      val lines = ex.linesIterator.map(_.trim).filter(_.nonEmpty).toSeq
      val cases = lines.zip(lines.drop(1)).collect {
        case (q, expected) if q.startsWith("> ") => (q.stripPrefix("> ").stripSuffix(";"), expected)
      }
      assert(cases.nonEmpty, s"${f.name}: no examples parsed from: $ex")
      cases.flatMap { case (sql, expected) =>
        val got = fmt(spark.sql(sql).head().get(0))
        if (got == expected) None
        else Some(s"${f.name} example `$sql` -> $got, documented $expected")
      }
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }
}
