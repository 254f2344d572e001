package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-session-factory rule: every main and every suite gets
  * its `SparkSession` from [[Session.local]], so the conf contract
  * (UTC, UI off, shuffle width = cores, the codegen cache) cannot drift
  * between copies again; and `src/main` carries only the five kept
  * mains, not one-off measurement mains. */
class SessionSpec extends AnyFunSuite with LocalSparkSuite {
  import SourceScan.codeLines

  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> "3")

  private val KeptMains = Set("Bench", "Verify", "PlanAudit", "StageProfile", "ScaleCheck")

  test("the session builder is called in code only in graft.Session") {
    val builder = "SparkSession" + ".builder" // split, or this line would match
    val sites = for {
      root <- Seq("src/main", "src/test")
      (f, lines) <- codeLines(root)
      l <- lines if l.contains(builder)
    } yield f.toString
    assert(sites.distinct == Seq("src/main/scala/graft/Session.scala"), sites.mkString("\n"))
  }

  test("src/main declares exactly the five kept mains") {
    val mains = for {
      (_, lines) <- codeLines("src/main")
      (l, i) <- lines.zipWithIndex
      if l.contains("def main(") || l.contains("extends App")
    } yield lines.take(i + 1).reverse
      .collectFirst { case o if o.trim.startsWith("object ") => o.trim.split("[ {]")(1) }
      .getOrElse(l.trim)
    assert(mains.toSet == KeptMains && mains.size == KeptMains.size, mains.mkString(", "))
  }

  test("Session.local applies the conf contract, then the caller's extra conf") {
    val conf = spark.conf
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.sparkContext.appName == suiteName)
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.ui.enabled") == "false")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "4096")
    assert(conf.get("spark.sql.shuffle.partitions") == "3")
  }
}
