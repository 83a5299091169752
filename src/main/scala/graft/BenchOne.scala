package graft

/** Single-query bench harness for iteration: times one named suite
  * query (same warm-up + median-of-3 protocol as [[Bench]]) without
  * paying the full registry sweep. `runMain graft.BenchOne <name>`.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: BenchOne <query-name> [sfDir]")
    val name  = args(0)
    val sfDir = if (args.length > 1) args(1)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val fn = Bench.suite.collectFirst { case (`name`, f) => f }
      .getOrElse(sys.error(s"unknown bench query: $name"))
    val spark = GraftSession.create()
    def run(): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
    run() // warm
    val times = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); run(); (System.nanoTime() - t0) / 1e9
    }.sorted
    println(f"""{"query":"$name","wall_med":${times(1)}%.3f,"wall_min":${times(0)}%.3f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
