package graft

/** Dump `.explain("formatted")` for named catalog entries (r16-opt
  * plan-evidence tooling — NOT part of the driver contract). Each
  * entry's returned frame is built (NOT executed beyond what the entry
  * itself materializes) and its formatted physical plan written to
  * `<outDir>/<entry>_<tag>.txt`. Usage:
  *   java ... graft.ExplainEntry <outDir> <tag> <entry> [entry ...]
  */
object ExplainEntry {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainEntry <outDir> <tag> <entry> [entry ...]")
    val (outDir, tag, names) = (args(0), args(1), args.drop(2).toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(GraftSession.cpus)
    Queries.prep(spark, sfDir)
    val qs = SparkEntry.queries
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = qs(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      println(s"[explain] wrote $outDir/${name}_$tag.txt " +
        s"(${txt.linesIterator.size} lines)")
    }
    spark.stop()
  }
}
