package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.sinks.{MaterializedRollup, SnapshotLake}
import graft.sources.Csv

/** lake_mixed: one client in a closed loop over a snapshot lake of
  * 1-minute bars with an hourly materialized rollup beside it. Every
  * round runs the same operations, in the order `gen.py` wrote them:
  * appends of new intervals, point lookups (biased to recent days),
  * one-symbol day reads, an MV refresh plus a one-symbol week read, a
  * correction merge keyed (symbol, ts) and pruned on ts, the same kind
  * of merge pruned on (ts, symbol), a compaction, and the MV rebuild a
  * compaction or merge makes necessary.
  *
  * Each operation's outcome and returned rows go to `lake_ops.jsonl`;
  * the lake's full content is dumped before and after the closing
  * compaction. `check.py` replays the acknowledged operations on its own
  * model and compares.
  */
object LakeMixed {
  val Spec = MaterializedRollup.Spec(
    keyCols = Seq("symbol", "bucket"),
    pruneKey = "bucket",
    sumCols = Seq("volume"),
    minCols = Seq("low"),
    maxCols = Seq("high"),
    orderCol = Some("ts"),
    firstCols = Seq("open"),
    lastCols = Seq("close"))
  val StatsCols = Seq("ts", "bucket")
  val BloomCols = Seq("symbol")
  val CompactTargetBytes = 1L << 20
  val KeyCols = Seq("symbol", "ts")
  private val StagingRepeats = 3

  private def ts(us: Long) = java.time.LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
    java.time.ZoneOffset.UTC)

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    implicit val formats: Formats = DefaultFormats
    val rounds = (JsonMethods.parse(new java.io.File(ctx.input("lake/ops.json"))) \ "rounds")
      .extract[List[List[Map[String, Any]]]]
    def parquet(rel: String): DataFrame = spark.read.parquet(ctx.input(s"lake/$rel"))

    // set-up: stage the lake and its MV several times, keep the last
    var root = ""
    var mvRoot = ""
    val stageS = (0 until StagingRepeats).map { i =>
      root = ctx.path(s"lake$i/bars")
      mvRoot = ctx.path(s"lake$i/mv")
      val (_, ms) = Stats.time {
        SnapshotLake.append(spark, root,
          parquet("base").repartitionByRange(7, col("ts")),
          statsCols = StatsCols, bloomCols = BloomCols)
        MaterializedRollup.init(spark, root, mvRoot, Spec)
      }
      if (i < StagingRepeats - 1) deleteTree(ctx.path(s"lake$i"))
      ms / 1000
    }
    ctx.setup("staging_s", Stats.median(stageS))

    val log = new StringBuilder
    val latency = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val done = mutable.Map.empty[String, Int].withDefaultValue(0)
    val counts = mutable.Map.empty[String, mutable.ArrayBuffer[Double]].withDefault(_ =>
      mutable.ArrayBuffer.empty[Double])
    def count(k: String, v: Double): Unit =
      counts(k) = counts(k) :+ v
    // round 0 warms the JVM and the plan caches; the latency and throughput
    // figures come from the (at least two) rounds after it
    val fsBefore = Trace.fsCounters()
    val t0 = System.nanoTime()
    var warm0 = 0L
    var r = 0
    while (r < 3 || Stats.secondsSince(t0) < ctx.seconds) {
      if (r == 1) warm0 = System.nanoTime()
      require(r < rounds.size, s"ops.json holds only ${rounds.size} rounds")
      rounds(r).foreach { op =>
        val name = op("op").toString
        var rows: Seq[Row] = Nil
        val scope = s"lake.$name"
        if (ctx.traced) name match {
          case "point" => count("lake.point.files_opened",
            SnapshotLake.pointCandidates(spark, root, pointOf(op)).size)
          case "range" => count("lake.range.files_opened",
            SnapshotLake.candidateEntries(spark, root, boxOf(op)).size)
          case _ => ()
        }
        val before = if (name == "compact") Some(SnapshotLake.manifest(spark, root)) else None
        val t1 = System.nanoTime()
        val outcome = scala.util.Try(ctx.span(scope) {
          name match {
            case "append" =>
              val bars = Csv.readTyped(spark, ctx.input(s"lake/${op("file")}"))
              SnapshotLake.append(spark, root, bars.select(col("symbol"), col("ts"),
                  date_trunc("hour", col("ts")).cast("timestamp_ntz").as("bucket"),
                  col("open"), col("high"), col("low"), col("close"), col("volume"),
                  lit(0L).as("rev")),
                statsCols = StatsCols, bloomCols = BloomCols)
            case "point" =>
              rows = SnapshotLake.readPoint(spark, root, pointOf(op)).collect().toSeq
            case "range" =>
              rows = SnapshotLake.readBox(spark, root, boxOf(op))
                .filter(col("symbol") === op("symbol").toString).collect().toSeq
            case "refresh" =>
              val rf = MaterializedRollup.refresh(spark, root, mvRoot, Spec)
              count("lake.refresh.files_rewritten", rf.filesCombined)
              rows = MaterializedRollup.readFinal(spark, mvRoot, Spec)
                .filter(col("symbol") === op("symbol").toString &&
                  col("bucket").between(ts(long(op, "from_us")), ts(long(op, "to_us"))))
                .collect().toSeq
            case "merge" =>
              val (_, rewritten, untouched) = SnapshotLake.merge(spark, root,
                parquet(op("file").toString), KeyCols, "rev", pruneKey = "ts")
              count("lake.merge.files_rewritten", rewritten)
              count("lake.merge.files_untouched", untouched)
            case "merge_by_symbol" =>
              SnapshotLake.mergeComposite(spark, root, parquet(op("file").toString),
                KeyCols, "rev", pruneKeys = Seq("ts", "symbol"))
            case "compact" =>
              SnapshotLake.compact(spark, root, targetBytes = CompactTargetBytes)
            case "mv_rebuild" =>
              MaterializedRollup.fullRefresh(spark, root, mvRoot, Spec)
          }
        })
        val ms = (System.nanoTime() - t1) / 1e6
        before.foreach { b =>
          val after = SnapshotLake.manifest(spark, root)
          val kept = after.files.map(_.rel).toSet
          count("lake.compact.bytes_rewritten",
            b.files.filterNot(f => kept.contains(f.rel)).map(_.bytes).sum.toDouble)
          count("lake.compact.files_after", after.files.size)
        }
        ctx.attempted += 1
        if (outcome.isFailure) ctx.failed += 1
        else {
          done(name) += 1
          if (r > 0) latency.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms
        }
        val err = outcome.failed.toOption.map(e => s""","error":${Json.str(e.toString.take(300))}""")
          .getOrElse("")
        log ++= s"""{"round":$r,"op":"$name","ok":${outcome.isSuccess},"ms":$ms$err,"rows":${rows.map(Json.row).mkString("[", ",", "]")}}""" + "\n"
      }
      r += 1
    }
    val measured = Stats.secondsSince(t0)
    val warmS = Stats.secondsSince(warm0)
    val fsAfter = Trace.fsCounters()
    Json.write(ctx.path("lake_ops.jsonl"), log.toString)

    // run end: content before and after the closing compaction, then space
    val cols = Seq("symbol", "ts", "open", "high", "low", "close", "volume", "rev")
    SnapshotLake.read(spark, root).select(cols.map(col): _*)
      .write.parquet(ctx.path("lake_dump_before"))
    SnapshotLake.compact(spark, root, targetBytes = CompactTargetBytes)
    SnapshotLake.read(spark, root).select(cols.map(col): _*)
      .write.parquet(ctx.path("lake_dump_after"))
    SnapshotLake.vacuum(spark, root, retainLast = 1)
    val head = SnapshotLake.manifest(spark, root)
    val liveRows = head.files.map(_.rows).sum
    val lakeBytes = Json.dirBytes(root)

    val opKinds = Seq("append", "merge", "point", "range", "refresh", "compact")
    ctx.trace match {
      case None =>
        ctx.metric("throughput", latency.values.map(_.size).sum / warmS)
        // each kind weighs the same, however many of it a round holds
        val kindMs = opKinds.map(op => Stats.median(latency(op).toSeq))
        ctx.metric("latency_ms", math.exp(kindMs.map(math.log).sum / kindMs.size))
      case Some(t) =>
        opKinds.foreach { op =>
          ctx.metric(s"lake.${op}_ms", Stats.median(latency(op).toSeq))
        }
        ctx.metric("lake.bytes_per_row", lakeBytes.toDouble / liveRows)
        t.finish()
        val nOps = ctx.attempted.toDouble
        def per(op: String): Double = done(op).toDouble
        def jobsOf(op: String) = t.jobsIn(s"lake.$op")
        def wallMs(op: String) = t.spanMs(s"lake.$op").sum
        val ap = jobsOf("append")
        ctx.metric("lake.append.jobs", ap.size / per("append"))
        ctx.metric("lake.append.job_ms", t.unionMs(ap) / per("append"))
        ctx.metric("lake.append.other_ms", (wallMs("append") - t.unionMs(ap)) / per("append"))
        ctx.metric("lake.append.bloom_ms",
          t.unionMs(ap.filter(_.stack.contains("writeBlooms"))) / per("append"))
        ctx.metric("lake.merge.jobs", jobsOf("merge").size / per("merge"))
        ctx.metric("lake.merge.files_rewritten", Stats.median(counts("lake.merge.files_rewritten").toSeq))
        ctx.metric("lake.merge.files_untouched", Stats.median(counts("lake.merge.files_untouched").toSeq))
        ctx.metric("lake.point.files_opened", Stats.median(counts("lake.point.files_opened").toSeq))
        ctx.metric("lake.point.other_ms",
          (wallMs("point") - t.unionMs(jobsOf("point"))) / per("point"))
        ctx.metric("lake.range.files_opened", Stats.median(counts("lake.range.files_opened").toSeq))
        ctx.metric("lake.range.jobs", jobsOf("range").size / per("range"))
        ctx.metric("lake.refresh.jobs", jobsOf("refresh").size / per("refresh"))
        ctx.metric("lake.refresh.files_rewritten",
          Stats.median(counts("lake.refresh.files_rewritten").toSeq))
        ctx.metric("lake.compact.bytes_rewritten",
          Stats.median(counts("lake.compact.bytes_rewritten").toSeq))
        ctx.metric("lake.compact.files_after", Stats.median(counts("lake.compact.files_after").toSeq))
        Seq("read_bytes", "write_bytes").foreach { k =>
          ctx.metric(s"lake.fs.$k", (fsAfter(k) - fsBefore(k)) / nOps)
        }
        val scopes = rounds.head.map(o => s"lake.${o("op")}").distinct
        ctx.metric("lake.planning_ms", t.planningMs(scopes) / nOps)
        ctx.metric("lake.files_live", head.files.size)
        ctx.metric("lake.versions", SnapshotLake.versions(spark, root).size)
        ctx.metric("lake.manifest_bytes", Json.dirBytes(s"$root/_manifests").toDouble)
        val all = scopes.flatMap(t.jobsIn)
        ctx.metric("spark.task_cpu_ms", t.cpuMs(all) / r)
        ctx.metric("spark.gc_ms", t.gcMs(all) / r)
    }
    ctx.setup("measured_s", measured)
  }

  private def long(op: Map[String, Any], k: String): Long = op(k) match {
    case n: BigInt => n.toLong
    case n: java.lang.Number => n.longValue
    case s => s.toString.toLong
  }

  private def pointOf(op: Map[String, Any]): Map[String, Any] =
    Map("symbol" -> op("symbol").toString, "ts" -> ts(long(op, "ts_us")))

  private def boxOf(op: Map[String, Any]): Map[String, (Double, Double)] =
    Map("ts" -> (long(op, "from_us").toDouble, long(op, "to_us").toDouble))

  def deleteTree(p: String): Unit = {
    val path = java.nio.file.Paths.get(p)
    if (java.nio.file.Files.exists(path)) {
      val st = java.nio.file.Files.walk(path)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(java.nio.file.Files.delete(_))
      finally st.close()
    }
  }
}
