package graft

/** Plan-artifact dumper: writes `explain("formatted")` of named suite
  * queries to files — the r17 optimization round's before/after plan
  * evidence (`plans/r17/<query>_{before,after}.txt`). Diagnostic tool,
  * not part of the bench contract.
  * `runMain graft.ExplainOne <outDir> <suffix> <query,query,...> [sfDir]`
  */
object ExplainOne {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: ExplainOne <outDir> <suffix> <query,query,...> [sfDir]")
    val outDir = args(0)
    val suffix = args(1)
    val names  = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir  = if (args.length > 3) args(3)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val fn = Bench.suite.collectFirst { case (`name`, f) => f }
        .getOrElse(sys.error(s"unknown bench query: $name"))
      val plan = fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      System.err.println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
