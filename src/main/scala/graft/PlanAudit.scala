package graft

/** Prints the formatted physical plan of the named declared queries
  * (all of them by default) — the review loop for shuffle/broadcast/
  * pushdown shape. Usage:
  *   sbt "runMain graft.PlanAudit [sfDir] [query ...]"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = Session.local(cpus.toInt, "graft-plan-audit")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      try println(SparkEntry.queries(n)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"[audit] $n failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
