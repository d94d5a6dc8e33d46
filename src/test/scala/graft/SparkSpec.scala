package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared one-per-JVM SparkSession for all specs (Test / fork := true, so
  * this JVM is dedicated to the test run). sf0.001 keeps specs fast. */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  val sfDir = "/root/testdata/sf0.001"
}

trait SparkSpec extends AnyFunSuite {
  def spark: SparkSession = SparkSpec.spark
  def sfDir: String = SparkSpec.sfDir

  /** The session's Hadoop configuration, the one the engine reads with. */
  def hadoopConf: org.apache.hadoop.conf.Configuration =
    spark.sessionState.newHadoopConf()

  /** Run `body` with the session confs `kv` set, then restore them. */
  def withConf[A](kv: (String, String)*)(body: => A): A = {
    val prior = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** The number of Spark jobs `body` starts on this thread, counted by
    * job group: `body` runs under `group`, and a marker job after it
    * shows when the listener has seen them all (the listener bus
    * delivers events in order). */
  def jobsIn(group: String)(body: => Any): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!groups.contains(s"$group-marker") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains(s"$group-marker"))
      groups.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }
}
