package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.util.concurrent.atomic.AtomicLong

/**
 * Event row consumed by the stateful streaming operators (the events
 * table shape). `ts_us` is event time in epoch microseconds — a long is
 * totally ordered, encoder-cheap, and free of timezone traps inside
 * state.
 */
case class Ev(event_id: Long, user_id: Long, event_type: String, ts_us: Long, value: Double)

/**
 * Structured-Streaming entry points (SURVEY.md §2.9 / M2). The
 * reference is a stream processor first (`DataStream.java:128`,
 * `WatermarkStrategy.java:133`); here streams are Spark streaming
 * DataFrames: file source → event-time transforms → memory sink.
 *
 * Scale notes: the file source is the test harness stand-in for any
 * DSv2 streaming source (kafka etc. swap in with one line). All
 * operators below keep per-key bounded state in the state store
 * (RocksDB-backed on a real cluster) — nothing buffers unbounded data
 * on the driver.
 */
object StreamOps {

  private val ctr = new AtomicLong(0)
  def freshName(prefix: String): String = s"${prefix}_${ctr.incrementAndGet()}"

  /** Context-scoped memo of STAGED INPUT directories (the FrameCache
   * pattern applied to harness inputs): the staging functions below
   * write the same deterministic file set — data split + mtime-ordered
   * sentinel files — for every query that uses the same harness, and
   * ~35 gate queries restage identical inputs per run. The first caller
   * pays the staging writes; later callers read the same directory
   * through their OWN readStream + fresh checkpoint, so every query
   * still computes its result from the (staged) parquet inputs.
   *
   * Keyed by the SparkCONTEXT, not the session: every streaming gate
   * stages through its own `tuned()` newSession clone, and a
   * session-object key mints a fresh id per clone — the memo would
   * never share across gates (measured: two evsent gates staged two
   * identical directories). Staged dirs are plain files on disk, not
   * session-bound plans, so all clones of one driver context can read
   * them; separate driver runs (Verify vs Bench JVMs, or a cycled
   * context) still never share, and staging failures are not cached. */
  private val stagedDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]()
  // staged dirs live for the JVM run (cache hits must keep resolving);
  // one shutdown hook reclaims them so long-lived hosts don't
  // accumulate a temp tree per driver run (r15 advisor note)
  locally {
    sys.addShutdownHook {
      stagedDirs.values.forEach { p =>
        try {
          import scala.jdk.CollectionConverters._
          val s = java.nio.file.Files.walk(p)
          try s.sorted(java.util.Comparator.reverseOrder()).iterator().asScala
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
          finally s.close()
        } catch { case e: Exception =>
          System.err.println(s"[graft] could not delete staged dir $p: $e")
        }
      }
    }
  }
  private val ctxIds = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.SparkContext, String]())
  private def ctxIdOf(spark: SparkSession): String =
    ctxIds.computeIfAbsent(spark.sparkContext, _ => java.util.UUID.randomUUID().toString)
  private[streaming] def stagedDir(spark: SparkSession, key: String)(
      stage: java.nio.file.Path => Unit): java.nio.file.Path =
    // computeIfAbsent locks per key (bin), not globally: first-time
    // staging of UNRELATED inputs runs concurrently and cache-hit
    // lookups never wait behind another key's Spark write jobs (the
    // old map-wide synchronized serialized both)
    stagedDirs.computeIfAbsent(s"${ctxIdOf(spark)}#$key", _ => {
      val work = java.nio.file.Files.createTempDirectory("graft_stage")
      stage(work)
      work
    })

  /** A cloned session with fewer shuffle/state partitions: at test
   * scale every micro-batch pays per-partition state-store I/O, so 8
   * partitions cuts that 4× vs the batch-tuned 32. On a real cluster
   * the cluster default stays in force (this is a session-local knob,
   * not a code-path difference). */
  def tuned(spark: SparkSession, partitions: Int = 8): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    ss
  }

  /** Streaming read of a driver parquet table, mirroring Tables.load's
   * normalization (events.ts parquet TIMESTAMP(NANOS) long →
   * TIMESTAMP_NTZ at micros). */
  def readStream(spark: SparkSession, dir: String, name: String): DataFrame = {
    val batch = spark.read.parquet(s"$dir/$name.parquet")
    // the tables are single files; the file streaming source requires a
    // directory or a glob — the trailing-star glob matches exactly the
    // one file and makes the source use the parent dir as basePath
    val sdf = spark.readStream.schema(batch.schema).parquet(s"$dir/$name.parquet*")
    if (name == "events" && batch.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
    else sdf
  }

  /** Run a streaming frame to completion (Trigger.AvailableNow) and
   * return its full output as a batch DataFrame.
   *
   * Sink choice is a SCALE decision: the memory sink serializes every
   * output row to the driver (the r15 sf10 sweep broke it — a 10M-row
   * changelog blew spark.driver.maxResultSize), so this writes each
   * micro-batch to a parquet spool from the EXECUTORS via foreachBatch
   * — output volume never crosses the driver, the same reason a real
   * deployment ends in a file/Kafka sink rather than collect().
   * append/update accumulate batches (exactly the rows those modes
   * emit); complete keeps the last batch's full table (what the memory
   * sink's truncate-per-batch leaves behind). */
  def runToBatch(spark: SparkSession, sdf: DataFrame, mode: String, prefix: String): DataFrame = {
    val t0 = System.nanoTime()
    def mark(what: String): Unit =
      if (sys.env.contains("SPARK_GRAFT_STREAM_TIMING"))
        System.err.println(f"[stream-timing] $prefix $what ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val name = freshName(prefix)
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sink_$name")
    val out = dir.resolve("out").toString
    val writeMode = if (mode == "complete") "overwrite" else "append"
    val q = sdf.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.write.mode(writeMode).parquet(out): Unit
      }
      .outputMode(mode).trigger(Trigger.AvailableNow())
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
    mark("started")
    q.awaitTermination()
    mark("stream done")
    // env-gated decomposition: per-batch phase durations from the
    // streaming progress reports (queryPlanning / addBatch / walCommit /
    // stateOperators commit), the data behind the anti-scaling triage
    if (sys.env.contains("SPARK_GRAFT_STREAM_TIMING"))
      q.recentProgress.foreach { p =>
        val d = p.durationMs
        def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(-1L)
        val st = p.stateOperators.map(o =>
          s"${o.operatorName}:commit=${o.commitTimeMs}ms,rows=${o.numRowsTotal}").mkString(" ")
        System.err.println(s"[stream-timing] $prefix batch=${p.batchId} " +
          s"trigger=${ms("triggerExecution")}ms addBatch=${ms("addBatch")}ms " +
          s"getBatch=${ms("getBatch")}ms latestOffset=${ms("latestOffset")}ms " +
          s"planning=${ms("queryPlanning")}ms walCommit=${ms("walCommit")}ms " +
          s"commitOffsets=${ms("commitOffsets")}ms rows=${p.numInputRows} $st")
      }
    // a stream may legitimately fire zero batches (no input): surface
    // that as an empty frame with the stream's own schema
    if (java.nio.file.Files.exists(java.nio.file.Paths.get(out)))
      spark.read.schema(sdf.schema).parquet(out)
    else
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sdf.schema)
  }

  /** The events stream as a typed Dataset[Ev] (event time in micros). */
  def eventsTyped(spark: SparkSession, dir: String): Dataset[Ev] = {
    import spark.implicits._
    readStream(spark, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** The events stream staged as TWO parquet files (even event_ids,
   * then odd) read with maxFilesPerTrigger=1: the second batch runs
   * under the watermark the first batch advanced, so per-batch
   * watermark VALUES are themselves deterministic and oracle-checkable
   * — the harness for the CURRENT_WATERMARK surface (reference
   * FLIP-162 `BuiltInFunctionDefinitions.CURRENT_WATERMARK`). */
  def eventsTypedHalves(spark: SparkSession, dir: String): Dataset[Ev] = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val tsIsLong = batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val work = stagedDir(spark, s"evhalves:$dir") { work =>
      Seq(0, 1).foreach { par =>
        val before = listParquets(work)
        batch.filter(col("event_id") % 2 === par).coalesce(1)
          .write.mode("append").parquet(work.toString)
        (listParquets(work) -- before).foreach(p =>
          Files.setLastModifiedTime(p, FileTime.fromMillis(10000L + par * 10000L)))
      }
    }
    val sdf = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/*.parquet")
    val norm =
      if (tsIsLong) sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else sdf
    norm.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** The events stream staged as two micro-batches by EVENT TIME:
   * file 1 carries every event at/after `minTs + splitOffsetUs`,
   * file 2 the rest — so file-2 rows arrive LATE relative to the
   * watermark file 1 established (mirrors the reference's
   * late-element path in `CepOperator`: elements below the current
   * watermark). The split point is a pure function of the data
   * (min ts + a literal offset), so an oracle can reproduce exactly
   * which rows were late. */
  def eventsTypedLateSplit(spark: SparkSession, dir: String,
      splitOffsetUs: Long): Dataset[Ev] = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val tsIsLong = batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val work = stagedDir(spark, s"evlate:$splitOffsetUs:$dir") { work =>
      val tsUs = if (tsIsLong) expr("ts div 1000") else unix_micros(col("ts").cast("timestamp"))
      val minUs = batch.agg(min(tsUs)).head().getAs[Number](0).longValue
      Seq(tsUs >= minUs + splitOffsetUs, tsUs < minUs + splitOffsetUs)
        .zipWithIndex.foreach { case (pred, i) =>
          val before = listParquets(work)
          batch.filter(pred).coalesce(1).write.mode("append").parquet(work.toString)
          (listParquets(work) -- before).foreach(p =>
            Files.setLastModifiedTime(p, FileTime.fromMillis(10000L + i * 10000L)))
        }
    }
    val sdf = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/*.parquet")
    val norm =
      if (tsIsLong) sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else sdf
    norm.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** [[eventsTypedLateSplit]] composed with the two keyed-sentinel
   * rounds of [[eventsTypedWithKeyedSentinels]]: batch 1 = on-time
   * rows (ts >= min + offset), batch 2 = the early rows arriving LATE
   * below the batch-1 watermark, batches 3-4 = per-key sentinels that
   * advance the mark past everything and invoke each key once more —
   * the harness for NoTimeout operators whose late-data behavior needs
   * an end-of-input flush (allowed-lateness refire, late capture). */
  def eventsTypedLateSplitWithSentinels(spark: SparkSession, dir: String,
      splitOffsetUs: Long): Dataset[Ev] = {
    import java.nio.file.Files
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val batch = spark.read.parquet(s"$dir/events.parquet")
    val tsIsLong = batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val work = stagedDir(spark, s"evlatesent:$splitOffsetUs:$dir") { work =>
      val tsUs = if (tsIsLong) expr("ts div 1000") else unix_micros(col("ts").cast("timestamp"))
      val minUs = batch.agg(min(tsUs)).head().getAs[Number](0).longValue
      def parquets(): Set[java.nio.file.Path] = {
        val s = Files.list(work)
        try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
        finally s.close()
      }
      def stage(df: DataFrame, mtimeMs: Long): Unit = {
        val before = parquets()
        df.coalesce(1).write.mode("append").parquet(work.toString)
        (parquets() -- before).foreach(p =>
          Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs)))
      }
      stage(batch.filter(tsUs >= minUs + splitOffsetUs), 10000L)
      stage(batch.filter(tsUs < minUs + splitOffsetUs), 20000L)
      def sentinels(tsNs: Long): DataFrame = {
        val cols = batch.schema.fields.map { f =>
          (f.name, f.dataType) match {
            case ("user_id", _) => col("user_id")
            case ("event_id", _) => lit(-1L).as("event_id")
            case ("ts", dt) =>
              (if (tsIsLong) lit(tsNs)
               else lit(java.time.LocalDateTime.ofEpochSecond(
                   tsNs / 1000000000L, 0, java.time.ZoneOffset.UTC).toString
                     .replace('T', ' ')).cast(dt)).as("ts")
            case (n, org.apache.spark.sql.types.StringType) => lit("sentinel").as(n)
            case (n, org.apache.spark.sql.types.LongType) => lit(0L).as(n)
            case (n, _) => lit(0.0).as(n)
          }
        }
        batch.select(col("user_id")).distinct().select(cols.toSeq: _*)
      }
      stage(sentinels(7258118400000000000L), 30000L) // ~2200-01-01
      stage(sentinels(7258122000000000000L), 40000L) // +1 hour
    }
    val sdf = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/*.parquet")
    val norm =
      if (tsIsLong) sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else sdf
    norm.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** The events stream staged with TWO rounds of PER-KEY far-future
   * sentinel rows, each file its own micro-batch (maxFilesPerTrigger=1,
   * explicit mtime ordering): round 1 advances the watermark past all
   * real data, round 2 invokes every key again under that watermark so
   * NoTimeout keyed operators (which Spark never wakes without input)
   * can finalize remaining windows — the per-key analog of the
   * reference's end-of-input MAX_WATERMARK broadcast. Sentinel rows
   * carry event_id = -1; operators skip them for aggregation. */
  def eventsTypedWithKeyedSentinels(spark: SparkSession, dir: String): Dataset[Ev] = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val src = Paths.get(s"$dir/events.parquet")
    val batch = spark.read.parquet(src.toString)
    val tsIsLong = batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val work = stagedDir(spark, s"evsent:$dir") { work =>
    val dataFile = work.resolve("events_data.parquet")
    try Files.createLink(dataFile, src)
    catch { case _: Exception => Files.copy(src, dataFile) }
    Files.setLastModifiedTime(dataFile, FileTime.fromMillis(10000L))
    def parquets(): Set[java.nio.file.Path] = {
      val s = Files.list(work)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
      finally s.close()
    }
    def sentinelRound(tsNs: Long, mtimeMs: Long): Unit = {
      val cols = batch.schema.fields.map { f =>
        (f.name, f.dataType) match {
          case ("user_id", _) => col("user_id")
          case ("event_id", _) => lit(-1L).as("event_id")
          case ("ts", dt) =>
            // string-cast serves TIMESTAMP and TIMESTAMP_NTZ alike
            // (the driver has generated events.ts as both, plus int64
            // nanos — session tz is UTC so the instant is identical)
            (if (tsIsLong) lit(tsNs)
             else lit(java.time.LocalDateTime.ofEpochSecond(
                 tsNs / 1000000000L, 0, java.time.ZoneOffset.UTC).toString
                   .replace('T', ' ')).cast(dt)).as("ts")
          case (n, org.apache.spark.sql.types.StringType) => lit("sentinel").as(n)
          case (n, org.apache.spark.sql.types.LongType) => lit(0L).as(n)
          case (n, _) => lit(0.0).as(n)
        }
      }
      val before = parquets()
      batch.select(col("user_id")).distinct().select(cols.toSeq: _*)
        .coalesce(1).write.mode("append").parquet(work.toString)
      (parquets() -- before).foreach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs)))
    }
    sentinelRound(7258118400000000000L, 20000L) // ~2200-01-01
    sentinelRound(7258122000000000000L, 30000L) // +1 hour
    }
    val sdf = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$work/*.parquet")
    val norm =
      if (tsIsLong) sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else sdf
    norm.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** The events stream staged together with `rounds` far-future
   * sentinel rows (event_id = user_id = -1): after the data batch, the
   * run sees a watermark beyond every real event, so event-time
   * timeouts fire and watermark-released operators flush completely —
   * the analog of the reference's end-of-input MAX_WATERMARK on
   * bounded streams (`Watermark.java:38` MAX_WATERMARK, emitted when a
   * bounded source closes). With `rounds > 1` each sentinel is its own
   * micro-batch (maxFilesPerTrigger=1, explicit mtime order) — needed
   * by operators that emit one watermark advance after eviction, e.g.
   * outer-join null-extensions. Callers filter the sentinel out of the
   * operator output. */
  def eventsTypedWithFinalWatermark(spark: SparkSession, dir: String,
      rounds: Int = 1): Dataset[Ev] = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import spark.implicits._
    val src = Paths.get(s"$dir/events.parquet")
    val batch = spark.read.parquet(src.toString)
    val tsIsLong = batch.schema("ts").dataType == org.apache.spark.sql.types.LongType
    val work = stagedDir(spark, s"evflush:$rounds:$dir") { work =>
    val dataFile = work.resolve("events_data.parquet")
    try Files.createLink(dataFile, src)
    catch { case _: Exception => Files.copy(src, dataFile) }
    Files.setLastModifiedTime(dataFile, FileTime.fromMillis(10000L))
    (1 to rounds).foreach { r =>
      val tsNs = 7258118400000000000L + r * 3600000000000L // ~2200 + r hours
      val sentinelTs: Any = batch.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => Long.box(tsNs)
        case org.apache.spark.sql.types.TimestampNTZType =>
          // NTZ rows carry LocalDateTime, not java.sql.Timestamp —
          // session tz is UTC so the instant is identical
          java.time.LocalDateTime.ofEpochSecond(
            tsNs / 1000000000L, 0, java.time.ZoneOffset.UTC)
        case _ => new java.sql.Timestamp(tsNs / 1000000L)
      }
      val values = batch.schema.fields.map { f =>
        (f.name, f.dataType) match {
          case ("event_id" | "user_id", _) => Long.box(-1L)
          case ("ts", _) => sentinelTs
          case (_, org.apache.spark.sql.types.StringType) => "sentinel"
          case (_, org.apache.spark.sql.types.LongType) => Long.box(0L)
          case _ => Double.box(0.0)
        }
      }
      val before = listParquets(work)
      spark.createDataFrame(
          java.util.Collections.singletonList(org.apache.spark.sql.Row(values: _*)),
          batch.schema)
        .coalesce(1).write.mode("append").parquet(work.toString)
      (listParquets(work) -- before).foreach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(10000L + r * 10000L)))
    }
    }
    val reader = spark.readStream.schema(batch.schema)
    val sdf = (if (rounds > 1) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(s"$work/*.parquet")
    val norm =
      if (tsIsLong) sdf.withColumn("ts", expr("cast(timestamp_micros(ts div 1000) as timestamp_ntz)"))
      else sdf
    norm.select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts").cast("timestamp")).as("ts_us"), col("value"))
      .as[Ev]
  }

  /** ANY driver table staged with `rounds` far-future sentinel rows —
   * the generic analog of [[eventsTypedWithFinalWatermark]] for
   * non-events schemas: after the data batch the watermark advances
   * past every real row, so event-time timeouts fire and
   * watermark-released operators flush completely (the reference's
   * end-of-input MAX_WATERMARK on bounded streams). Sentinel rows carry
   * -1 in every `idCols` column (callers filter them out), "sentinel"
   * in other strings, far-future in `timeCol`, zero elsewhere. */
  def tableWithFinalWatermark(spark: SparkSession, dir: String, name: String,
      timeCol: String, idCols: Seq[String], rounds: Int = 1): DataFrame = {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val src = Paths.get(s"$dir/$name.parquet")
    val batch = spark.read.parquet(src.toString)
    val work = stagedDir(spark,
        s"tflush:$name:$timeCol:${idCols.mkString(",")}:$rounds:$dir") { work =>
    val dataFile = work.resolve(s"${name}_data.parquet")
    try Files.createLink(dataFile, src)
    catch { case _: Exception => Files.copy(src, dataFile) }
    Files.setLastModifiedTime(dataFile, FileTime.fromMillis(10000L))
    (1 to rounds).foreach { r =>
      val cols = batch.schema.fields.map { f =>
        if (idCols.contains(f.name)) lit(-1L).cast(f.dataType).as(f.name)
        else if (f.name == timeCol) f.dataType match {
          // Epoch-micros convention (the streaming layer's Long time
          // columns): a string-cast would yield NULL and the watermark
          // would never advance, so emit far-future micros directly.
          case org.apache.spark.sql.types.LongType =>
            lit(farFutureMicros + r * 3600L * 1000000L).as(f.name)
          case _: org.apache.spark.sql.types.TimestampType |
               _: org.apache.spark.sql.types.TimestampNTZType |
               _: org.apache.spark.sql.types.DateType |
               _: org.apache.spark.sql.types.StringType =>
            lit(f"2200-01-${1 + r / 24}%02d ${r % 24}%02d:00:00")
              .cast(f.dataType).as(f.name)
          case dt => throw new IllegalArgumentException(
            s"tableWithFinalWatermark: unsupported time column type $dt for '$timeCol'")
        }
        else f.dataType match {
          case org.apache.spark.sql.types.StringType => lit("sentinel").as(f.name)
          case dt => lit(0).cast(dt).as(f.name)
        }
      }
      val before = listParquets(work)
      batch.limit(1).select(cols.toSeq: _*)
        .coalesce(1).write.mode("append").parquet(work.toString)
      (listParquets(work) -- before).foreach(p =>
        Files.setLastModifiedTime(p, FileTime.fromMillis(10000L + r * 10000L)))
    }
    }
    val reader = spark.readStream.schema(batch.schema)
    (if (rounds > 1) reader.option("maxFilesPerTrigger", "1") else reader)
      .parquet(s"$work/*.parquet")
  }

  /** One half of the events table (`event_id % 2 == par`) staged as a
   * single parquet file, memoized per (context, dir, par): the
   * savepoint-rescale gates each replay the same deterministic halves
   * as separate bootstrap/resume inputs, so the split is input staging
   * like the sentinel harnesses above — never results. */
  def stagedEventsHalf(spark: SparkSession, dir: String, par: Int): String = {
    val batch = spark.read.parquet(s"$dir/events.parquet")
    stagedDir(spark, s"evhalf:$par:$dir") { work =>
      batch.filter(col("event_id") % 2 === par).coalesce(1)
        .write.mode("append").parquet(work.toString)
    }.toString
  }

  /** Epoch micros of 2200-01-01T00:00:00Z — far past any fixture row. */
  private val farFutureMicros: Long =
    java.time.Instant.parse("2200-01-01T00:00:00Z").getEpochSecond * 1000000L

  private def listParquets(work: java.nio.file.Path): Set[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(work)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.filter(_.toString.endsWith(".parquet")).toSet
    } finally s.close()
  }
}
