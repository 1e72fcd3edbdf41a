package graft.tools

import java.nio.file.{Files, Paths}

/** Dump formatted plans for SparkEntry queries at SPARK_GRAFT_SF_DIR
  * without executing them (construction-time statistics jobs still run):
  *   sbt "runMain graft.tools.Explain <outFile> [key1,key2,...]"
  * The optional comma-separated key filter limits the dump to those
  * keys; without it every registered query is written.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/explains.txt")
    val only = args.lift(1).map(_.split(",").toSet)
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val queries = graft.SparkEntry.queries
    only.foreach(_.diff(queries.keySet).foreach(k => sys.error(s"unknown query: $k")))
    val spark = graft.GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try {
        val df = fn(spark, dir)
        sb.append(s"\n========== $name ==========\n")
        sb.append(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      } catch { case e: Throwable => sb.append(s"\n== $name FAILED: ${e.getMessage}\n") }
    }
    Files.writeString(Paths.get(out), sb.toString)
    println(s"EXPLAIN_WRITTEN $out")
    spark.stop()
  }
}
