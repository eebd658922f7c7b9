package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** Lets the benchmark wait until its listeners have seen every event of the
  * jobs that have already finished, and until the `ContextCleaner` has
  * cleaned what earlier passes left. The listener bus's drain hook and the
  * cleaner are package-private, hence this file's package.
  */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  private val lastClean = new AtomicLong
  @volatile private var watched: ContextCleaner = null

  private def watch(c: ContextCleaner): Unit = synchronized {
    if (watched ne c) {
      c.attachListener(new CleanerListener {
        private def seen(): Unit = lastClean.set(System.nanoTime())
        def rddCleaned(rddId: Int): Unit = seen()
        def shuffleCleaned(shuffleId: Int): Unit = seen()
        def broadcastCleaned(broadcastId: Long): Unit = seen()
        def accumCleaned(accId: Long): Unit = seen()
        def checkpointCleaned(rddId: Long): Unit = seen()
      })
      watched = c
    }
  }

  /** Runs a full GC, so the cleaner learns which RDDs, shuffles and
    * broadcasts are unreachable, then waits until it has gone `quietMs`
    * without cleaning anything (at most `maxMs`). Its poll interval is
    * 100 ms.
    */
  def settle(sc: SparkContext, quietMs: Long = 150, maxMs: Long = 3000): Unit = {
    sc.cleaner.foreach(watch)
    val t0 = System.nanoTime()
    lastClean.set(t0)
    System.gc()
    while ((System.nanoTime() - lastClean.get) / 1000000 < quietMs &&
        (System.nanoTime() - t0) / 1000000 < maxMs) Thread.sleep(10)
    drain(sc)
  }
}
