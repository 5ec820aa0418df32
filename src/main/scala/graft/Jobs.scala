package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Exact count of the Spark jobs a block fires. The block runs under a
  * fresh job group on the calling thread (jobs it starts, and the
  * broadcast/subquery jobs Spark launches for it, carry the group); a
  * fence job in a second group then flushes the asynchronous listener
  * bus: its start is posted after every earlier job's, so once the
  * fence is seen the count is final — no polling, no timing window for
  * a late job to leak into the next block's count. */
object Jobs {
  def fired[A](sc: SparkContext)(block: => A): (A, Int) = {
    val tag = s"graft-jobs-${java.util.UUID.randomUUID()}"
    val seen = new AtomicInteger(0)
    val fence = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`tag`) => seen.incrementAndGet(); ()
          case Some(g) if g == tag + "-fence" => fence.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(tag, "graft job count")
      val out = block
      sc.setJobGroup(tag + "-fence", "listener fence")
      sc.parallelize(Seq(1), 1).count()
      require(fence.await(60, TimeUnit.SECONDS), "listener fence job not seen")
      (out, seen.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
