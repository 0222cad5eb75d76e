package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Per-query cost attribution for the optimization loop (guide §1):
  * splits each query's wall time into CONSTRUCTION (the `fn(spark, dir)`
  * call — where iterative queries run their driver loops eagerly) and
  * EXECUTION ([[graft.Session.fullRow]], Bench's action), and counts Spark
  * jobs / stages / tasks / shuffle bytes per phase via a listener, on
  * Bench's session.
  *
  * Usage: sbt "runMain graft.tools.ProfileQ <sfDir> <query...>"
  * Each query line: name, build sec, exec sec, jobs, stages, tasks,
  * shuffle read MB, shuffle write MB (cumulative per phase).
  */
object ProfileQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cpus)
    spark.sparkContext.setLogLevel("ERROR")

    val jobs = new AtomicInteger(0)
    val stages = new AtomicInteger(0)
    val tasks = new AtomicInteger(0)
    val shufR = new AtomicLong(0L)
    val shufW = new AtomicLong(0L)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        }
      }
    })
    def snap() = (jobs.get, stages.get, tasks.get, shufR.get, shufW.get)

    // same warm-up shape as Bench so JIT noise doesn't land on query #1
    spark.range(1000000).selectExpr("sum(id)").collect()

    val sfDir = args(0)
    args.drop(1).foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      val (j0, s0, t0, r0, w0) = snap()
      val b0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val b1 = System.nanoTime()
      val (j1, s1, t1, r1, w1) = snap()
      graft.Session.fullRow(df)
      val e1 = System.nanoTime()
      val (j2, s2, t2, r2, w2) = snap()
      println(f"[profileq] $name%-32s build=${(b1 - b0) / 1e9}%7.2f s " +
        f"(jobs=${j1 - j0}%4d stages=${s1 - s0}%4d tasks=${t1 - t0}%6d " +
        f"shufR=${(r1 - r0) / 1e6}%8.1f MB shufW=${(w1 - w0) / 1e6}%8.1f MB) " +
        f"exec=${(e1 - b1) / 1e9}%7.2f s " +
        f"(jobs=${j2 - j1}%4d stages=${s2 - s1}%4d tasks=${t2 - t1}%6d " +
        f"shufR=${(r2 - r1) / 1e6}%8.1f MB shufW=${(w2 - w1) / 1e6}%8.1f MB)")
    }
    spark.stop()
  }
}
