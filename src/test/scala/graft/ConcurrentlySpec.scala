package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicReference

import graft.operators.Concurrently
import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskStart}
import org.scalatest.funsuite.AnyFunSuite

class ConcurrentlySpec extends AnyFunSuite {
  import SparkTestSession._

  test("results keep input order; a failure is rethrown unwrapped") {
    assert(Concurrently(Seq(3, 1, 2))(_ * 10) == Seq(30, 10, 20))
    val e = intercept[IllegalArgumentException] {
      Concurrently(Seq(1, 2))(i => require(i == 1, "two"))
    }
    assert(e.getMessage.contains("two"))
  }

  test("the first failure returns at once and cancels the sibling chain's job") {
    val sc = spark.sparkContext
    val taskRunning = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskStart(t: SparkListenerTaskStart): Unit =
        taskRunning.countDown()
    }
    sc.addSparkListener(listener)
    val sibling = new AtomicReference[Throwable]()
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        Concurrently(Seq(0, 1)) { i =>
          if (i == 0) {
            taskRunning.await(30, TimeUnit.SECONDS)
            throw new IllegalStateException("boom")
          }
          // a 30 s job whose task stops early only when it is killed
          try sc.parallelize(Seq(1), 1).map { x =>
            val ctx = TaskContext.get()
            val end = System.nanoTime() + 30L * 1000000000L
            while (!ctx.isInterrupted() && System.nanoTime() < end)
              Thread.sleep(20)
            x
          }.collect()
          catch { case t: Throwable => sibling.set(t); throw t }
        }
      }
      assert(e.getMessage == "boom")
    } finally sc.removeSparkListener(listener)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 15, s"returned after $secs s: the sibling was drained")
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (sibling.get == null && System.nanoTime() < deadline) Thread.sleep(20)
    assert(sibling.get != null && sibling.get.getMessage.contains("cancel"),
      s"sibling job not cancelled: ${sibling.get}")
  }
}
