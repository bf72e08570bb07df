package graftbench

import java.nio.file.{Files, Paths}

/** Prints `query<TAB>hash` for query outputs dumped as parquet by
  * `graft.Verify` (one directory per query), with the hash the benchmark
  * checks ([[OutputHash]]). Recording the expected hashes from a dump that
  * passes the oracle check ties them to verified outputs.
  *
  * Usage: `graftbench.HashDump <dump dir> <query>...` */
object HashDump {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.local(Runtime.getRuntime.availableProcessors, "graftbench-hash")
    spark.sparkContext.setLogLevel("ERROR")
    args.tail.foreach { q =>
      val path = Paths.get(args.head, q)
      val hash = if (Files.isDirectory(path)) OutputHash(spark.read.parquet(path.toString).collect())
        else "missing"
      println(s"$q\t$hash")
    }
    spark.stop()
  }
}
