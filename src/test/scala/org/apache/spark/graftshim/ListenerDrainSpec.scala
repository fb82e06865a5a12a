package org.apache.spark.graftshim

import java.util.concurrent.CountDownLatch

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.scalatest.funsuite.AnyFunSuite

/** A slow listener bus degrades a drain, it never fails the caller. */
class ListenerDrainSpec extends AnyFunSuite {
  private lazy val sc = graft.TestSpark.spark.sparkContext

  private case object Block extends SparkListenerEvent

  test("drain returns false on a blocked bus instead of throwing, true once it empties") {
    val release = new CountDownLatch(1)
    val blocker = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit =
        if (e == Block) release.await()
    }
    assert(ListenerDrain.drain(sc))
    sc.addSparkListener(blocker)
    try {
      sc.listenerBus.post(Block)
      assert(!ListenerDrain.drain(sc, 200L))
    } finally release.countDown()
    try assert(ListenerDrain.drain(sc))
    finally sc.removeSparkListener(blocker)
  }
}
