package graft.tools

import graft.SparkEntry
import graft.core.GraftSession

/** Dump formatted physical plans for selected queries (dev tool), from
  * the same session factory Verify and Bench use, so the plans are the
  * ones they run. Usage: runMain graft.tools.Explain q01_order_revenue q12_location */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8, "graft-explain")
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq
    names.foreach { n =>
      println(s"===== $n =====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
