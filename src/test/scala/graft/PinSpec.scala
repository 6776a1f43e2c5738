package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Pin

class PinSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("lazilyAll: jobs of the pinned frames run under the caller's job group") {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    // listener events post asynchronously: wait until the count stops
    // moving (listenerBus.waitUntilEmpty is private[spark])
    def settle(): Unit = {
      var last = -1
      while (groups.size != last) { last = groups.size; Thread.sleep(200) }
    }
    sc.addSparkListener(listener)
    try {
      // two rounds under different groups: construction threads left over
      // from the first round must not carry its group into the second
      for (group <- Seq("pin-group-a", "pin-group-b")) {
        sc.setJobGroup(group, "Pin.lazilyAll propagation")
        settle()
        groups.clear()
        val pinned = Pin.lazilyAll(Seq(2, 3).map(m =>
          spark.range(1000).groupBy((col("id") % m).as("k")).count()))
        assert(pinned.map(_.count()) == Seq(2L, 3L))
        settle()
        val seen = groups.toArray.toSeq
        assert(seen.nonEmpty, "pinning must have run jobs")
        assert(seen.forall(_ == group), s"jobs under $group saw groups $seen")
      }
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
