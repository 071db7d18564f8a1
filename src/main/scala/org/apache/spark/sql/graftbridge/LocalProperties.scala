package org.apache.spark.sql.graftbridge

import java.util.Properties

import org.apache.spark.SparkContext
import org.apache.spark.util.Utils

/** Carry a thread's Spark local properties (job group, SQL execution
  * ids) onto another thread — what `SQLExecution.withThreadLocalCaptured`
  * does for Spark's own pools. `SparkContext.getLocalProperties` and
  * `setLocalProperties` are `private[spark]`, hence this bridge.
  */
object LocalProperties {
  /** A clone of the calling thread's local properties on the active
    * SparkContext; None when no context is running.
    */
  def capture(): Option[(SparkContext, Properties)] =
    SparkContext.getActive.map(sc =>
      sc -> Utils.cloneProperties(sc.getLocalProperties))

  /** `body` with `captured` as this thread's local properties, the
    * previous ones restored after.
    */
  def within[T](captured: Option[(SparkContext, Properties)])(body: => T): T =
    captured match {
      case None => body
      case Some((sc, props)) =>
        val prev = sc.getLocalProperties
        sc.setLocalProperties(props)
        try body finally sc.setLocalProperties(prev)
    }
}
