package org.apache.spark

import java.util.concurrent.atomic.AtomicLong

/** Two package-private waits the benchmark needs between repetitions. */
object PerfbenchBus {

  /** Every job, stage and task event so far has reached the listeners. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)

  private val lastCleaned = new AtomicLong(0L)
  private val listener = new CleanerListener {
    private def seen(): Unit = lastCleaned.set(System.nanoTime())
    def rddCleaned(rddId: Int): Unit = seen()
    def shuffleCleaned(shuffleId: Int): Unit = seen()
    def broadcastCleaned(broadcastId: Long): Unit = seen()
    def accumCleaned(accId: Long): Unit = seen()
    def checkpointCleaned(rddId: Long): Unit = seen()
  }
  @volatile private var attachedTo: SparkContext = _
  private val QuietMs = 300L
  private val MaxMs = 5000L

  /** Blocks until the context cleaner has cleaned nothing for 300 ms (at
    * most 5 s), so that what a GC made unreachable is released before the
    * heap is read or the next repetition starts.
    */
  def awaitCleanerQuiet(sc: SparkContext): Unit = {
    if (attachedTo ne sc) synchronized {
      sc.cleaner.foreach(_.attachListener(listener))
      attachedTo = sc
    }
    val t0 = System.nanoTime()
    lastCleaned.set(t0)
    def ms(since: Long) = (System.nanoTime() - since) / 1000000L
    while (ms(lastCleaned.get) < QuietMs && ms(t0) < MaxMs) Thread.sleep(20L)
  }
}
