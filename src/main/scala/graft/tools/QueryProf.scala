package graft.tools

import graft.{LocalSession, SparkEntry}
import org.apache.spark.scheduler._

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/**
 * Dev probe (round 19): per-query job/stage/task accounting over the noop
 * sink. For each named query (default: all, sorted) runs `SPARK_GRAFT_PROF_RUNS`
 * passes (default 2 — pass 1 warms codegen/footers, pass 2 is reported) and
 * prints one line per query:
 *
 *   name wall jobs stages tasks taskTime shufWr shufRd planMs
 *
 * `planMs` is the driver-side time from DataFrame construction to the first
 * job submission of the LAST pass — at sf0.1 the corpus is ~17 MB, so a
 * query whose wall is dominated by planMs is Catalyst/analysis-bound, not
 * data-bound, and the optimization lever is plan size, not shuffle bytes.
 * Runs in Bench's session ([[graft.LocalSession]]).
 */
object QueryProf {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val runs = sys.env.getOrElse("SPARK_GRAFT_PROF_RUNS", "2").toInt
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = LocalSession(LocalSession.cpus, "query-prof")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val taskTimeMs = new AtomicLong(0)
    val shufWr = new AtomicLong(0)
    val shufRd = new AtomicLong(0)
    val firstJobNanos = new java.util.concurrent.atomic.AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        firstJobNanos.compareAndSet(0L, System.nanoTime())
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        val m = s.stageInfo.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          shufWr.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shufRd.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        }
        tasks.addAndGet(s.stageInfo.numTasks)
        if (sys.env.contains("SPARK_GRAFT_PROF_STAGES")) {
          val si = s.stageInfo
          val wall = (si.completionTime.getOrElse(0L) -
            si.submissionTime.getOrElse(0L)) / 1e3
          println(f"    [stg ${si.stageId}%4d] tasks=${si.numTasks}%3d " +
            f"wall=$wall%6.2f runT=${if (m == null) 0 else m.executorRunTime}%6d " +
            f"shW=${if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten / 1000}%8dK " +
            si.name.takeWhile(_ != '\n').take(60))
        }
      }
    })

    // session warmup: neutral plan (Bench's)
    spark.range(0, 4000000, 1, 32).selectExpr("id % 97 as k", "id as v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v"))
      .write.format("noop").mode("overwrite").save()

    println(f"${"query"}%-34s ${"wall_s"}%7s ${"plan_s"}%7s ${"jobs"}%5s ${"stg"}%5s ${"tasks"}%6s ${"taskT_s"}%8s ${"shW_MB"}%7s ${"shR_MB"}%7s")
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      var line = ""
      (1 to runs).foreach { r =>
        jobs.set(0); stages.set(0); tasks.set(0)
        taskTimeMs.set(0); shufWr.set(0); shufRd.set(0)
        firstJobNanos.set(0L)
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          val wall = (System.nanoTime() - t0) / 1e9
          // listener bus is async; block until it has actually drained
          // (r20 ADVICE: a fixed sleep under-reports on a loaded host)
          org.apache.spark.sql.GraftBridge.waitListenerBusEmpty(spark, 30000)
          val plan = if (firstJobNanos.get == 0L) wall
            else (firstJobNanos.get - t0) / 1e9
          line = f"$n%-34s $wall%7.3f $plan%7.3f ${jobs.get}%5d ${stages.get}%5d ${tasks.get}%6d ${taskTimeMs.get / 1e3}%8.2f ${shufWr.get / 1e6}%7.2f ${shufRd.get / 1e6}%7.2f"
        } catch {
          case e: Throwable => line = f"$n%-34s FAILED: ${e.getMessage.take(80)}"
        }
        org.apache.spark.sql.GraftBridge.releaseTransientPins()
      }
      println(line) // last pass (warm)
    }
    spark.stop()
  }
}
