package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Closes a window of Spark listener events. The listener bus delivers
  * events asynchronously but in order, one event to every listener before
  * the next, so a marker job run after the counted work closes the window:
  * when a listener sees the marker's start, it has seen every event posted
  * before it. Counting listeners read their totals at the marker's start and
  * skip the marker's own job and stages ([[isMarker]]).
  */
object ListenerMarker {

  private val Key = "graft.listenerMarker"

  /** Whether a job's properties mark it as a marker job. */
  def isMarker(props: java.util.Properties): Boolean =
    props != null && props.getProperty(Key) != null

  /** Runs a one-task marker job and waits until the bus has delivered its
    * start to the listeners. */
  def close(sc: SparkContext): Unit = {
    val id = s"marker-${System.nanoTime()}"
    val seen = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty(Key) == id)) seen.countDown()
    }
    sc.addSparkListener(listener)
    val prior = sc.getLocalProperty(Key)
    try {
      sc.setLocalProperty(Key, id)
      try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Key, prior)
      require(seen.await(60, TimeUnit.SECONDS), "marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
  }
}
