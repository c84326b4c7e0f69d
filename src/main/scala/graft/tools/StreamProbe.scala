package graft.tools

import org.apache.spark.sql.SparkSession
import graft.{SparkEntry, Tables}

/** Dev tool: run one query N times, print each wall time — for
 * measuring run-to-run variance of a single bench entry without the
 * full Bench scaffold. A failed rep prints no time, and the tool
 * exits non-zero if any rep failed.
 * Usage: StreamProbe <sfDir> <reps> <query...> */
object StreamProbe {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, reps, names @ _*) = args: @unchecked
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Tables.configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // warm up like Bench does
    try Tables.load(spark, sfDir, "lineitem").groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }
    var failed = 0
    for (r <- 1 to reps.toInt; name <- names) {
      val t0 = System.nanoTime()
      try {
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        println(f"[probe] rep$r $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      } catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[probe] rep$r $name FAILED: $e")
      }
    }
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[probe] $failed rep(s) failed")
      sys.exit(1)
    }
  }
}
