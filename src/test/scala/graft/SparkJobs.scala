package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block ran. A listener records every job
  * start; after the block, a marker job drains the listener bus (its
  * start event arrives only after every earlier job's), so the count
  * is complete when it returns. `queryId` keeps only the jobs of one
  * streaming query (their `sql.streaming.queryId` property). */
object SparkJobs {

  private val MarkerKey = "graft.test.jobMarker"

  def count(spark: SparkSession, queryId: Option[String] = None)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val marker = java.util.UUID.randomUUID.toString
    val jobs = new ConcurrentLinkedQueue[String]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties)
        if (p.exists(_.getProperty(MarkerKey) == marker)) drained.countDown()
        else if (drained.getCount > 0)
          jobs.add(p.flatMap(x => Option(x.getProperty("sql.streaming.queryId"))).getOrElse(""))
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setLocalProperty(MarkerKey, marker)
      try spark.range(1).count() finally sc.setLocalProperty(MarkerKey, null)
      require(drained.await(30, TimeUnit.SECONDS), "the marker job never reached the listener")
    } finally sc.removeSparkListener(listener)
    jobs.toArray.count(q => queryId.forall(_ == q))
  }
}
