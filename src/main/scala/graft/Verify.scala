package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Session.local(cpus.toInt, "graft-verify")
    new java.io.File(outDir).mkdirs()
    // same isolation hook as Bench: SPARK_GRAFT_ONLY=q_a,q_b dumps just
    // those queries (local spot-verification of a changed operator)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      } finally spark.catalog.clearCache() // release per-query persists (round-3 ADVICE)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // keep SURVEY §2.4's generated evidence table fresh on every run
    // (round-13 verdict #7: it went stale when the manual tool wasn't
    // re-run after late-round queries) — best-effort, a no-op outside
    // the repo root; EvidenceSpec gates consistency at build time
    // "[evidence]", not "[verify]": the fuzz harness reads any
    // "[verify]" line on stderr as a per-query failure marker
    try SurveyEvidence.refresh().foreach(m => System.err.println(s"[evidence] $m"))
    catch { case e: Throwable =>
      System.err.println(s"[evidence] refresh skipped: ${e.getMessage}")
    }
    spark.stop()
  }
}
