package graft.tools

import org.apache.spark.sql.SparkSession

/** Dev probe: time individual SparkEntry queries under full evaluation
  * (a `noop` write of every output column; `count()` would let Catalyst
  * prune the projections it does not need).
  * Usage: runMain graft.tools.QueryProbe <sfDir> <reps> <query> [query...]
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val names = if (args.length > 2) args.drop(2).toSeq
                else graft.SparkEntry.queries.keys.toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = graft.SparkEntry.queries(name)
      val times = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $name%-28s full evaluation min=${times.min}%7.3fs all=${times.map(t => f"$t%.3f").mkString(",")}")
    }
    spark.stop()
  }
}
