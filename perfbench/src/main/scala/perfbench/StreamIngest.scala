package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.pipeline.StreamingDemo
import graft.sinks.SnapshotLake

/** stream_ingest: the continuous-aggregate path. `StreamingDemo.start`
  * (clean, hourly tumbling rollup, lake append plus profile) over a
  * directory of parquet bar files. The run first drains a staged backlog
  * in one go, then one feeder thread moves further files into the
  * directory on an open-loop schedule, one every `period_ms`, whatever
  * the stream is doing. A file's lag runs from its due time to the end of
  * the micro-batch that consumed it (the file source's own log says
  * which batch that was).
  */
object StreamIngest {
  val Schema = StructType(Seq(
    StructField("symbol", StringType),
    StructField("ts", TimestampType),
    StructField("open", DoubleType),
    StructField("high", DoubleType),
    StructField("low", DoubleType),
    StructField("close", DoubleType),
    StructField("volume", DoubleType)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val formats: Formats = DefaultFormats
    val meta = JsonMethods.parse(new java.io.File(ctx.input("stream/meta.json")))
    val periodMs = (meta \ "period_ms").extract[Long]
    val backlogBars = (meta \ "backlog_bars").extract[Long]
    val minTimed = (meta \ "min_timed_files").extract[Int]
    val timed = (meta \ "timed_files").extract[List[String]]
    val backlogFiles = (meta \ "backlog_files").extract[List[String]]
    val watch = Paths.get(ctx.path("stream_in"))
    val staged = Paths.get(ctx.path("stream_staged"))

    val (_, stageMs) = Stats.time {
      Files.createDirectories(watch)
      Files.createDirectories(staged)
      backlogFiles.foreach { f =>
        Files.copy(Paths.get(ctx.input(s"stream/$f")), watch.resolve(Paths.get(f).getFileName))
      }
      timed.foreach { f =>
        Files.copy(Paths.get(ctx.input(s"stream/$f")), staged.resolve(Paths.get(f).getFileName))
      }
    }
    ctx.setup("staging_s", stageMs / 1000)

    val lakeRoot = ctx.path("stream_lake")
    val profileRoot = ctx.path("stream_profile")
    val checkpoint = ctx.path("stream_ckpt")
    val t0 = System.currentTimeMillis()
    val query = ctx.span("stream.run") {
      StreamingDemo.start(spark.readStream.schema(Schema).parquet(watch.toString),
        lakeRoot, profileRoot, checkpoint)
    }
    def batchEnd(p: StreamingQueryProgress): Long =
      java.time.Instant.parse(p.timestamp).toEpochMilli +
        p.durationMs.get("triggerExecution").longValue
    def logOffset(json: String): Long =
      if (json == null) -1L else (JsonMethods.parse(json) \ "logOffset").extract[Long]

    /** Waits until the micro-batches that read `files` have ended and the
      * query is idle (the batch the watermark triggers after them
      * included); returns the progress of the batch that read each file.
      * The file source's log says which log entry holds a file; the batch
      * whose source offsets cover that entry read it.
      */
    def awaitFiles(files: Seq[String]): Seq[StreamingQueryProgress] = {
      val names = files.map(f => Paths.get(f).getFileName.toString)
      def readers: Option[Seq[StreamingQueryProgress]] = {
        val logId = sourceLogIds(checkpoint)
        val progress = query.recentProgress.toSeq
        val found = names.map(n => logId.get(n).flatMap(id => progress.find { p =>
          val src = p.sources.head
          logOffset(src.startOffset) < id && id <= logOffset(src.endOffset)
        }))
        if (found.forall(_.nonEmpty)) Some(found.flatten) else None
      }
      var idleChecks = 0
      while (idleChecks < 3) {
        query.exception.foreach(e => throw e)
        Thread.sleep(20)
        val st = query.status
        idleChecks =
          if (!st.isTriggerActive && !st.isDataAvailable && readers.nonEmpty) idleChecks + 1
          else 0
      }
      readers.get
    }

    val lagMs = try {
      val drainS = (awaitFiles(backlogFiles).map(batchEnd).max - t0) / 1000.0
      ctx.metric("throughput", backlogBars / drainS)
      ctx.setup("drain_s", drainS)

      // open loop: file i is due at phase start + i * period, whatever the
      // stream is doing
      val n = math.min(timed.size,
        math.max(minTimed, ((ctx.seconds - drainS) * 1000 / periodMs).toInt))
      val phase0 = System.currentTimeMillis()
      val due = (0 until n).map(i => phase0 + i * periodMs)
      val moved = new Array[Long](n)
      val feeder = new Thread(() => {
        (0 until n).foreach { i =>
          val wait = due(i) - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
          val name = Paths.get(timed(i)).getFileName
          Files.move(staged.resolve(name), watch.resolve(name), StandardCopyOption.ATOMIC_MOVE)
          moved(i) = System.currentTimeMillis()
        }
      }, "perfbench-feeder")
      feeder.start()
      feeder.join()
      val readers = awaitFiles(timed.take(n))
      val late = (0 until n).map(i => (moved(i) - due(i)).toDouble)
      ctx.setup("feeder_late_ms_median", Stats.median(late))
      ctx.setup("feeder_late_ms_max", late.max)
      Json.write(ctx.path("stream_progress.jsonl"),
        query.recentProgress.map(_.json.replace('\n', ' ')).mkString("", "\n", "\n"))
      (0 until n).map(i => (batchEnd(readers(i)) - due(i)).toDouble)
    } finally query.stop()
    val measured = (System.currentTimeMillis() - t0) / 1000.0
    ctx.attempted = backlogFiles.size + lagMs.size
    Files.write(Paths.get(ctx.path("stream_fed.json")),
      lagMs.indices.map(i => "\"" + timed(i) + "\"").mkString("[", ",", "]").getBytes)
    SnapshotLake.read(spark, lakeRoot).write.parquet(ctx.path("stream_dump"))

    ctx.trace match {
      case None => ctx.metric("latency_ms", Stats.median(lagMs))
      case Some(t) =>
        t.finish()
        val progress = query.recentProgress.toSeq
        val data = progress.filter(_.numInputRows > 0)
        def med(k: String) = Stats.median(data.map(_.durationMs.getOrDefault(k, 0L).toDouble))
        ctx.metric("stream.batch_ms", med("triggerExecution"))
        ctx.metric("stream.add_batch_ms", med("addBatch"))
        ctx.metric("stream.planning_ms", med("queryPlanning"))
        ctx.metric("stream.wal_commit_ms", med("walCommit"))
        val jobs = t.jobsIn("stream.run")
        val batches = progress.size.toDouble
        ctx.metric("stream.jobs_per_batch", jobs.size / batches)
        // micro-batch jobs all carry the query's call site, so they are
        // told apart by the root their plan reads or writes
        ctx.metric("stream.lake_ms",
          t.unionMs(jobs.filter(_.plan.contains(lakeRoot))) / data.size)
        ctx.metric("stream.profile_ms",
          t.unionMs(jobs.filter(_.plan.contains(profileRoot))) / data.size)
        val state = progress.last.stateOperators
        ctx.metric("stream.state_rows", state.map(_.numRowsTotal).sum.toDouble)
        ctx.metric("stream.state_bytes", state.map(_.memoryUsedBytes).sum.toDouble)
        ctx.metric("spark.task_cpu_ms", t.cpuMs(jobs) / data.size)
        ctx.metric("spark.gc_ms", t.gcMs(jobs) / data.size)
    }
    ctx.setup("measured_s", measured)
  }

  /** file name → the file source's log entry that lists it. */
  private def sourceLogIds(checkpoint: String): Map[String, Long] = {
    implicit val formats: Formats = DefaultFormats
    val dir = Paths.get(checkpoint, "sources", "0")
    if (!Files.isDirectory(dir)) return Map.empty
    val st = Files.list(dir)
    try st.iterator().asScala.filter(p => !p.getFileName.toString.startsWith(".")).flatMap { p =>
      Files.readAllLines(p).asScala.drop(1).filter(_.startsWith("{")).map { l =>
        val j = JsonMethods.parse(l)
        Paths.get(new java.net.URI((j \ "path").extract[String])).getFileName.toString ->
          (j \ "batchId").extract[Long]
      }
    }.toMap finally st.close()
  }
}
