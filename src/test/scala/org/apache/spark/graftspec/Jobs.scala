package org.apache.spark.graftspec

import java.util.Properties
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** The Spark jobs started while a block runs, each with the properties
  * it was submitted with. The listener bus's drain is Spark-private,
  * which is the only reason this helper lives in Spark's package. */
object Jobs {
  def during[T](sc: SparkContext)(body: => T): (T, Seq[Properties]) = {
    sc.listenerBus.waitUntilEmpty()
    val seen = new ConcurrentLinkedQueue[Properties]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        seen.add(Option(e.properties).getOrElse(new Properties()))
    }
    sc.addSparkListener(listener)
    try {
      val result = body
      sc.listenerBus.waitUntilEmpty()
      (result, seen.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
