package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

import scala.collection.concurrent.TrieMap

/** Per-stage wall/shuffle profile of one or more declared queries —
  * the round-17 measurement loop (optimization guide §1: decide
  * whether time goes to shuffle, compute or scheduling BEFORE touching
  * code). Runs each named query twice (prime + profiled, the Bench
  * convention) and prints per-stage rows plus job/stage counts, so a
  * query's cost can be attributed to exchanges vs compute vs per-stage
  * fixed overhead at local scale. Usage:
  *   sbt "runMain graft.StageProfile [sfDir] q_a [q_b ...]"
  */
object StageProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.tail.toSeq
      else Seq("q_graph_lp")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // ad-hoc conf A/B: SPARK_GRAFT_CONF="k=v,k=v"
    val conf = sys.env.get("SPARK_GRAFT_CONF").toSeq
      .flatMap(_.split(",").filter(_.contains("=")))
      .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap
    val spark = Session.local(cpus.toInt, "graft-stage-profile", conf)
    // SPARK_GRAFT_FINALPLAN=1: print the executed (AQE-final) plan of
    // the profiled run — the initial explain hides runtime rewrites
    val finalPlan = sys.env.get("SPARK_GRAFT_FINALPLAN").exists(_ == "1")
    if (finalPlan) spark.listenerManager.register(
      new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            d: Long): Unit =
          println(s"---- final plan ($f) ----\n" + qe.executedPlan.toString)
        override def onFailure(f: String,
            qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })

    case class St(name: String, ms: Long, tasks: Int, shufRead: Long,
      shufWrite: Long, input: Long, runMs: Long, cpuMs: Long, gcMs: Long)
    val stages = TrieMap.empty[Int, St]
    @volatile var jobs = 0
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        val wall = (for {a <- si.completionTime; b <- si.submissionTime}
          yield a - b).getOrElse(0L)
        val tm = si.taskMetrics
        stages.put(si.stageId, St(si.name.takeWhile(_ != '\n').take(80), wall,
          si.numTasks, tm.shuffleReadMetrics.totalBytesRead,
          tm.shuffleWriteMetrics.bytesWritten,
          tm.inputMetrics.bytesRead,
          tm.executorRunTime, tm.executorCpuTime / 1000000L,
          tm.jvmGCTime))
      }
    })

    names.foreach { n =>
      // prime (untimed): fills codegen/page caches and session-shared
      // artifacts, exactly like Bench's primed passes
      try {
        SparkEntry.queries(n)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        spark.catalog.clearCache()
      } catch { case e: Throwable =>
        println(s"[profile] $n prime failed: ${e.getMessage}") }
      stages.clear(); jobs = 0
      System.gc()
      val t0 = System.nanoTime()
      try {
        val df = SparkEntry.queries(n)(spark, sfDir)
        df.write.format("noop").mode("overwrite").save()
        if (finalPlan) println(df.queryExecution.executedPlan.toString)
      } catch { case e: Throwable =>
        println(s"[profile] $n failed: ${e.getMessage}") }
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      val ss = stages.values.toSeq.sortBy(-_.ms)
      val sumMs = ss.map(_.ms).sum
      println(f"\n===== $n%s wall=$wall%.3f s  jobs=$jobs%d  stages=${ss.size}%d  " +
        f"stage-ms-sum=$sumMs%d =====")
      ss.take(30).foreach { s =>
        println(f"  ${s.ms}%6d ms  run=${s.runMs}%6d cpu=${s.cpuMs}%6d " +
          f"gc=${s.gcMs}%5d  tasks=${s.tasks}%3d  in=${s.input}%9d  " +
          f"sr=${s.shufRead}%9d  sw=${s.shufWrite}%9d  ${s.name}%s")
      }
    }
    spark.stop()
  }
}
