package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs `body` starts on the calling thread, each by its
  * description, or its final stage's name when it has none — tagged with a fresh job group, so jobs of
  * other threads never count. */
object JobCount {
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"jobcount-${java.util.UUID.randomUUID}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("spark.jobGroup.id") == group)
          started.add(Option(e.properties.getProperty("spark.job.description")).filter(_ != group)
            .getOrElse(e.stageInfos.lastOption.map(_.name).getOrElse("?")))
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try {
      val out = body
      org.apache.spark.ListenerDrain(sc)
      import scala.jdk.CollectionConverters._
      (out, started.asScala.toSeq)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }
}
