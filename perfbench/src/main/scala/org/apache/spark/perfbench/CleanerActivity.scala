package org.apache.spark.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.{CleanerListener, SparkContext}

/** Counts the RDDs, shuffles, broadcasts, accumulators and checkpoints that
  * Spark's ContextCleaner has cleaned. The cleaner is `private[spark]`, hence
  * this bridge under `org.apache.spark`; the heap sampler waits for the count
  * to stop moving before it collects again.
  */
final class CleanerActivity(sc: SparkContext) extends CleanerListener {
  val cleaned = new AtomicLong
  sc.cleaner.foreach(_.attachListener(this))

  private def count(): Unit = { cleaned.incrementAndGet(); () }
  override def rddCleaned(rddId: Int): Unit = count()
  override def shuffleCleaned(shuffleId: Int): Unit = count()
  override def broadcastCleaned(broadcastId: Long): Unit = count()
  override def accumCleaned(accId: Long): Unit = count()
  override def checkpointCleaned(rddId: Long): Unit = count()
}
