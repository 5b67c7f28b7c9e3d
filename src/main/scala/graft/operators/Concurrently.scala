package graft.operators

import java.util.concurrent.{ExecutionException, ExecutorCompletionService,
  Executors, TimeUnit}

import org.apache.spark.sql.SparkSession

/** Overlap INDEPENDENT Spark job chains from driver threads — the
  * guide's "overlap independent jobs" pattern (§2.6): Spark's scheduler
  * happily runs several jobs at once inside one application; actions
  * are only sequential because driver code calls them sequentially.
  * When a composite operator needs several independent eager results
  * (e.g. the m per-subspace PQ codebooks, or an index build's coarse
  * quantizer next to its PQ training), submitting them from a small
  * pool lets the next chain's tasks back-fill executors freed by the
  * current chain's straggler tail.
  *
  * Results are unchanged: each chain runs exactly the jobs it ran
  * sequentially, and FIFO scheduling gives earlier submissions
  * priority. Failure is fail-fast: the first chain to fail has its
  * exception rethrown (unwrapped) at once; chains not yet started never
  * start, and the Spark jobs of the running ones are cancelled through
  * a per-call job tag. The call returns once those chains have ended,
  * so no job of a failed call outlives it.
  */
object Concurrently {

  /** Default chains-in-flight: scale-adaptive rather than a constant —
    * the guide's §2.6 sizing note says "2-3 jobs in flight is plenty"
    * for cluster-sized jobs, but the operators that use this pool
    * (PQ subspace fits, index-build chains) submit SMALL job chains
    * whose stages can't individually fill a wide local master, so the
    * pool grows with available parallelism: 2 at ≤8 cores, 8 at ≥32
    * (measured: dropping 8 → 3 on local[32] cost q_index_census ~12%).
    */
  def defaultPool: Int =
    math.min(8, math.max(2, Runtime.getRuntime.availableProcessors / 4))

  /** Map `f` over `items` with up to `maxPool` chains in flight.
    * Returns results in input order.
    */
  def apply[A, B](items: Seq[A], maxPool: Int = defaultPool)(f: A => B): Seq[B] = {
    if (items.lengthCompare(2) < 0) return items.map(f)
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext)
    val tag = s"graft-concurrently-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(items.length, maxPool))
    val done = new ExecutorCompletionService[B](pool)
    // the pool's threads are this call's own, so the tag marks only
    // its chains' jobs (and those of chains nested in them)
    val futures = items.map(a =>
      done.submit(() => { sc.foreach(_.addJobTag(tag)); f(a) }))
    try {
      items.foreach(_ => try done.take().get() catch {
        case e: ExecutionException =>
          futures.foreach(_.cancel(false))
          pool.shutdown()
          // a running chain may start its next job after one cancel
          // lands: cancel again until every running chain has ended
          do sc.foreach(_.cancelJobsWithTag(tag))
          while (!pool.awaitTermination(50, TimeUnit.MILLISECONDS))
          throw Option(e.getCause).getOrElse(e)
      })
      futures.map(_.get())
    } finally pool.shutdown()
  }

  /** Two independent chains in parallel, result as a pair. */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val out: Seq[Either[A, B]] = apply(Seq(true, false)) { first =>
      if (first) Left(fa) else Right(fb)
    }
    (out(0).swap.toOption.get, out(1).toOption.get)
  }
}
