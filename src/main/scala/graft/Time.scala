package graft

/** Dev utility: steady-state wall time of one or more queries (min of
  * `SPARK_GRAFT_REPS`, default 3, after one warmup) — the per-query
  * microscope Bench's full-suite pass is too coarse for.
  * Usage: runMain graft.Time <sfDir> <query> [query...]
  */
object Time {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(2000000L).selectExpr("sum(id * 2)").collect()
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      def once(): Double = Meter.timeIsolated(fn(spark, sfDir))
      once() // warmup (training/artifact load charges here, not the timing)
      val best = (1 to reps).map(_ => once()).min
      println(f"[time] $n%-32s $best%8.3f s (min of $reps)")
    }
    spark.stop()
  }
}
