package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** One shared local session for the whole test run. */
object SparkSpec {
  /** A started Spark job: its job group ("" when none) and task count. */
  final case class Job(group: String, tasks: Int)

  /** The job group [[SparkSpec.jobsOf]] runs its body under. */
  val UnderTest = "under-test"

  lazy val session: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-tests")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.session

  /** Drop a saved table AND its warehouse directory (bucketed-table specs
    * recreate tables per test; a stale directory would shadow the new one).
    */
  def dropTable(name: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name")
    val loc = new java.io.File(s"spark-warehouse/$name")
    if (loc.exists()) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete()
      }
      rm(loc)
    }
  }

  /** Run `body` with conf overrides, restoring prior values after. */
  def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val olds = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** `body`'s result and every Spark job started while it ran, from any
    * thread, in start order; `body` itself runs under job group
    * [[SparkSpec.UnderTest]]. A marker job before and one after `body` are
    * the barriers: listener events arrive in order, so once a marker is
    * seen every job started before it has been seen too.
    */
  def jobsOf[A](body: => A): (A, Seq[SparkSpec.Job]) = {
    val jobs = new ConcurrentLinkedQueue[SparkSpec.Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(SparkSpec.Job(Option(e.properties).flatMap(p =>
          Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
          e.stageInfos.map(_.numTasks).sum))
    }
    val sc = spark.sparkContext
    def mark(group: String): Unit = {
      sc.setJobGroup(group, group)
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_.group == group) && System.nanoTime() < deadline)
        Thread.sleep(20)
    }
    sc.addSparkListener(listener)
    try {
      mark("jobs-before")
      jobs.clear()
      sc.setJobGroup(SparkSpec.UnderTest, "body")
      val out = try body finally sc.clearJobGroup()
      mark("jobs-after")
      (out, jobs.asScala.toSeq.filter(_.group != "jobs-after"))
    } finally sc.removeSparkListener(listener)
  }

  /** [[jobsOf]] restricted to the jobs started under `body`'s own job group. */
  def bodyJobsOf[A](body: => A): (A, Seq[SparkSpec.Job]) = {
    val (out, jobs) = jobsOf(body)
    (out, jobs.filter(_.group == SparkSpec.UnderTest))
  }
}
