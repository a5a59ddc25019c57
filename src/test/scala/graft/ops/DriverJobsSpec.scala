package graft.ops

import graft.SparkSpec
import graft.pipelines.{OrgChangePaths, OrgChanges}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Steps that build plans or small driver artifacts start no Spark job of
  * their own: the row index numbers rows inside the action that reads
  * them, and the org-change lookup over a local edge frame never leaves the
  * driver.
  */
class DriverJobsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  /** Job groups of every job started while `body` runs under group
    * "under-test", then while a marker job runs under group "marker".
    */
  private def jobsOf[A](body: => A): (A, Seq[String]) = {
    val jobs = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add(Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull)
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("under-test", "body")
      val out = body
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      sc.clearJobGroup()
      // listener events arrive in order: once the marker's job is seen,
      // every job the body started has been seen too
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (!jobs.asScala.exists(_ == "marker") && System.nanoTime() < deadline)
        Thread.sleep(20)
      (out, jobs.asScala.toSeq.filter(_ == "under-test"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  private def indices(df: DataFrame): Seq[(String, Long)] =
    df.collect().toSeq.map(r => (r.getString(0), r.getLong(1)))

  private def assertIncreasing(got: Seq[(String, Long)], want: Seq[String]): Unit = {
    assert(got.map(_._1) == want)
    assert(got.map(_._2).sliding(2).forall { case Seq(a, b) => a < b; case _ => true },
      s"indices must strictly increase in input order: $got")
  }

  test("withRowIndex starts no job; indices increase across partitions, an empty one included") {
    val values = (0 until 20).map(i => f"v$i%02d")
    // five partitions, the third empty
    val rdd = spark.sparkContext.parallelize(values, 4)
      .mapPartitionsWithIndex((p, it) => if (p == 2) Iterator.empty else it)
      .union(spark.sparkContext.parallelize(Seq("w0", "w1"), 1))
      .map(Row(_))
    val df = spark.createDataFrame(rdd, StructType(Seq(StructField("v", StringType))))
    assert(df.rdd.getNumPartitions == 5)
    val (indexed, jobs) = jobsOf(HeaderPromotion.withRowIndex(df))
    assert(jobs.isEmpty, s"withRowIndex started ${jobs.size} job(s)")
    val kept = values.zipWithIndex.filterNot { case (_, i) => i >= 10 && i < 15 }.map(_._1)
    assertIncreasing(indices(indexed.select("v", "_row_idx")), kept ++ Seq("w0", "w1"))
  }

  test("withRowIndex follows a sorted union's order") {
    val a = (0 until 12).map(i => s"a${99 - i}").toDF("v").repartition(3).orderBy(col("v"))
    val b = Seq("b2", "b1", "b0").toDF("v").orderBy(col("v"))
    val got = indices(HeaderPromotion.withRowIndex(a.union(b)).select("v", "_row_idx"))
    assertIncreasing(got, (0 until 12).map(i => s"a${88 + i}") ++ Seq("b0", "b1", "b2"))
  }

  test("derivePaths and trustLookup over a local edge frame start no job") {
    val succ = Seq(("A", "B", "2005-01-01"), ("A", "C", "2005-01-01"), ("M", "B", "2005-01-01"),
      ("P", "Q", "2006-01-01"), ("Q", "R", "2009-01-01"))
      .toDF("old_code", "new_code", "change_date")
    val (lookup, jobs) = jobsOf(
      OrgChanges.trustLookup(OrgChangePaths.derivePaths(succ)).collect())
    assert(jobs.isEmpty, s"the lookup started ${jobs.size} job(s)")
    assert(lookup.length == 5)
  }
}
