// Plan inspection: sbt "runMain graft.tools.ExplainAll [queryName...]"
package graft.tools

import org.apache.spark.sql.SparkSession
import graft.SparkEntry

object ExplainAll {
  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      // Verify's session settings, so the plans are the ones Verify runs
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // see Bench.scala: single-JVM harness disables artifact-isolation
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, dir).explain("formatted")
      // construction of iterative queries registers shared frames even
      // when only explaining — release per query like every harness
      graft.SharedFrames.releaseAll()
    }
    spark.stop()
  }
}
