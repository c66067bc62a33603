package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM per `sbt test` fork). */
object SparkTestBase {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.spark
  val sfDir = "/root/testdata/sf0.001"

  /** The graft connector scans in `df`'s executed plan, looking through
    * AQE; planning them set their `pruneInfo`. */
  def graftScans(df: org.apache.spark.sql.DataFrame): Seq[graft.lake.GraftScan] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def go(p: SparkPlan): Seq[graft.lake.GraftScan] = p match {
      case a: AdaptiveSparkPlanExec => go(a.inputPlan)
      case b: BatchScanExec => b.scan match {
        case g: graft.lake.GraftScan => Seq(g)
        case _ => Nil
      }
      case other => other.children.flatMap(go)
    }
    go(df.queryExecution.executedPlan)
  }

  /** Data files kept by `df`'s one connector scan after manifest pruning. */
  def keptFiles(df: org.apache.spark.sql.DataFrame): Int =
    graftScans(df) match {
      case Seq(s) => s.pruneInfo.map(_._1).getOrElse(0)
      case scans => throw new IllegalStateException(s"${scans.size} graft scans in the plan")
    }
}
