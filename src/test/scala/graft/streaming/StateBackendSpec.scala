package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.nio.file.Files

/**
 * State-backend and state-introspection surface (SURVEY §2.9 rows
 * "State backends" and "Queryable state"): the RocksDB state store
 * provider is a config swap (reference flink-statebackend-rocksdb), and
 * the state data source reads checkpointed keyed state externally
 * (reference flink-queryable-state's nearest Spark analog).
 */
class StateBackendSpec extends SparkSuite {

  test("stateful op runs on the RocksDB state store provider (config swap only)") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql = ss.sqlContext
    import ss.implicits._
    val ms = MemoryStream[Ev]
    val q = StatefulOps.keepLastByUser(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("t_rocks")
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_rocks").toString)
      .start()
    try {
      ms.addData(Ev(1, 1, "a", 100, 1.0), Ev(2, 1, "b", 200, 1.0))
      q.processAllAvailable()
      val winners = ss.table("t_rocks").as[Ev].collect().map(_.event_id)
      assert(winners.contains(2L))
    } finally q.stop()
  }

  test("transformWithState (arbitrary state v2): keep-last with TTL'd ValueState on RocksDB") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql = ss.sqlContext
    import ss.implicits._
    val ms = MemoryStream[Ev]
    val q = TwsOps.keepLastByUser(ms.toDS()).toDF()
      .writeStream.format("memory").queryName("t_tws")
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_tws").toString)
      .start()
    try {
      ms.addData(Ev(1, 1, "a", 100, 1.0), Ev(2, 1, "b", 200, 1.0))
      q.processAllAvailable()
      ms.addData(Ev(3, 1, "c", 150, 1.0)) // late: winner unchanged, no emission
      q.processAllAvailable()
      val emitted = ss.table("t_tws").as[Ev].collect().map(_.event_id).toSet
      assert(emitted == Set(2L))
    } finally q.stop()
  }

  test("state bootstrap: batch-seeded keyed state folds under the stream (state-processor analog)") {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    implicit val sql = ss.sqlContext
    import ss.implicits._
    // user 1 seeded (2 rows, 500 cents); user 3 seeded but silent
    val initial = Seq(BootTotal(1L, 2L, 500L), BootTotal(3L, 7L, 70L)).toDS()
    val ms = MemoryStream[Ev]
    val q = BootstrapOps.totalsWithBootstrap(ms.toDS(), initial).toDF()
      .writeStream.format("memory").queryName("t_boot")
      .outputMode("update")
      .option("checkpointLocation", Files.createTempDirectory("graft_boot").toString)
      .start()
    try {
      ms.addData(Ev(1, 1, "a", 100, 1.0), Ev(2, 2, "b", 200, 2.0))
      q.processAllAvailable()
      val r1 = ss.table("t_boot").as[BootTotal].collect().map(b => b.user_id -> b).toMap
      // seeded key folds on top of the bootstrap; unseeded key starts at zero
      assert(r1(1L) == BootTotal(1L, 3L, 600L), s"got ${r1.get(1L)}")
      assert(r1(2L) == BootTotal(2L, 1L, 200L))
      // silent seeded key emits nothing (bootstrap writes state, not output)
      assert(!r1.contains(3L))
      // ...but its state is live: the next batch folds from the seed
      ms.addData(Ev(3, 3, "c", 300, 3.0))
      q.processAllAvailable()
      val r2 = ss.table("t_boot").as[BootTotal].collect()
        .filter(_.user_id == 3L).maxBy(_.n)
      assert(r2 == BootTotal(3L, 8L, 370L), s"got $r2")
    } finally q.stop()
  }

  test("checkpoint restore: a restarted query resumes keyed state exactly once") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_restore").toString
    val out = Files.createTempDirectory("graft_restore_out").toString
    val ms = MemoryStream[Ev]
    // file sink (memory sink cannot recover from a checkpoint)
    def start() = StatefulOps.runningByUser(ms.toDS()).toDF()
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt).outputMode("append").start()
    val q1 = start()
    try {
      ms.addData(Ev(1, 1, "a", 100, 1.0), Ev(2, 1, "b", 200, 2.0))
      q1.processAllAvailable()
    } finally q1.stop()
    val q2 = start()
    try {
      ms.addData(Ev(3, 1, "c", 300, 1.0))
      q2.processAllAvailable()
      // the restarted fold continues from restored state (n=3, cents
      // cumulative) and run 1's output is not replayed
      val rows = spark.read.parquet(out).as[RunningRow].collect().sortBy(_.event_id)
      assert(rows.map(r => (r.event_id, r.running_n, r.running_cents)).toList ==
        List((1L, 1L, 100L), (2L, 2L, 300L), (3L, 3L, 400L)), s"got ${rows.toList}")
    } finally q2.stop()
  }

  test("queryable state: the state data source reads checkpointed aggregation state") {
    implicit val sql = spark.sqlContext
    import spark.implicits._
    val ckpt = Files.createTempDirectory("graft_statesrc").toString
    val ms = MemoryStream[(Long, Double)]
    val agg = ms.toDS().toDF("k", "v")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    val q = agg.writeStream.format("memory").queryName("t_statesrc")
      .outputMode("complete").option("checkpointLocation", ckpt).start()
    try {
      ms.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
      q.processAllAvailable()
    } finally q.stop()
    val state = spark.read.format("statestore").load(ckpt)
    // schema: key struct (grouping cols), value struct (agg BUFFER
    // fields — the count buffer is named `count`), partition_id
    val counts = state.select(col("key.k"), col("value.count"))
      .as[(Long, Long)].collect().toMap
    assert(counts == Map(1L -> 2L, 2L -> 1L))
  }

  test("checkpoint writes fork no readlink process under either state store provider") {
    // Spark's default FileContext checkpoint manager resolves every
    // rename target through Hadoop's readlink shell-out: one child
    // process per state delta, checksum, offset and commit file
    def run(provider: Option[String]): (Map[Long, Long], Seq[String]) = {
      val ss = spark.newSession()
      provider.foreach(ss.conf.set("spark.sql.streaming.stateStore.providerClass", _))
      implicit val sql = ss.sqlContext
      import ss.implicits._
      val ckpt = Files.createTempDirectory("graft_nofork")
      val jfr = Files.createTempFile("graft_nofork", ".jfr")
      val rec = new jdk.jfr.Recording()
      rec.enable("jdk.ProcessStart")
      rec.start()
      try {
        val ms = MemoryStream[(Long, Double)]
        val q = ms.toDS().toDF("k", "v").groupBy(col("k")).agg(count(lit(1)).as("n"))
          .writeStream.format("memory").queryName("t_nofork")
          .outputMode("complete").option("checkpointLocation", ckpt.toString).start()
        try {
          ms.addData((1L, 1.0), (1L, 2.0), (2L, 3.0))
          q.processAllAvailable()
          ms.addData((2L, 4.0), (3L, 5.0))
          q.processAllAvailable()
        } finally q.stop()
        // a known child process: the recording must see process starts
        new ProcessBuilder("true").start().waitFor()
        rec.stop()
        rec.dump(jfr)
        import scala.jdk.CollectionConverters._
        // program name of each started process (first word, no directory)
        val programs = jdk.jfr.consumer.RecordingFile.readAllEvents(jfr).asScala.toSeq
          .filter(_.getEventType.getName == "jdk.ProcessStart")
          .map(_.getString("command").takeWhile(_ != ' ').split('/').last)
        val rows = ss.table("t_nofork").as[(Long, Long)].collect().toMap
        (rows, programs)
      } finally {
        rec.close()
        Files.deleteIfExists(jfr)
        org.apache.commons.io.FileUtils.deleteDirectory(ckpt.toFile)
      }
    }
    for (provider <- Seq(None, Some(
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))) {
      val (rows, programs) = run(provider)
      assert(rows == Map(1L -> 2L, 2L -> 2L, 3L -> 1L), s"$provider: got $rows")
      assert(programs.contains("true"), s"$provider: no process starts recorded")
      val readlinks = programs.count(_ == "readlink")
      assert(readlinks == 0, s"$provider: $readlinks readlink forks among ${programs.size}")
    }
  }

  test("multi-sink: one shared materialization feeds several sinks") {
    val shared = spark.range(0, 1000).toDF("id")
      .filter(col("id") % 2 === 0)
    var n1 = -1L
    var n2 = -1L
    MultiSink.runBatch(shared, Seq(
      df => n1 = df.count(),
      df => n2 = df.filter(col("id") > 100).count()))
    assert(n1 == 500 && n2 == 449)
  }
}
