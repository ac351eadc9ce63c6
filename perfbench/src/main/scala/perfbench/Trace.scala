package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSqlBridge, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** The traced run's recorder. The benchmark opens a span around every call
  * it makes into a layer's public function; the span's name rides on the
  * submitting thread as a Spark local property, so every job the call
  * starts is charged to it. AQE stage jobs, which run on other threads,
  * are charged through their SQL execution id to the span of the
  * execution's other jobs. Each job also keeps its execution's call stack
  * and physical plan, which is how work is split inside one call (bloom
  * jobs of an append by their `writeBlooms` frame; a micro-batch's lake
  * and profile jobs by the root their plan touches).
  *
  * Stream progress comes from the query's own `recentProgress`.
  * Everything stays in memory; [[finish]] drains the listener bus and
  * [[spansJson]] writes the spans out when the run ends.
  */
final class Trace(spark: SparkSession) {
  import Trace._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()

  final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[(Int, String, Double)]
  private var nextId = 1

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Runs `body` inside span `name`; returns its value. */
  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.map(_._1).getOrElse(0)
    val start = nowMs
    open = (id, name, start) :: open
    val prev = sc.getLocalProperty(ScopeProp)
    sc.setLocalProperty(ScopeProp, name)
    try body
    finally {
      sc.setLocalProperty(ScopeProp, prev)
      open = open.tail
      spans.synchronized(spans += Span(id, parent, name, start, nowMs))
    }
  }

  def spanMs(name: String): Seq[Double] =
    spans.synchronized(spans.filter(_.name == name).map(s => s.endMs - s.startMs).toSeq)

  // ------------------------------------------------------------ Spark side

  /** One job: the span it ran under, the call stack and plan of its SQL
    * execution, its wall interval, and its stages.
    */
  final case class Job(id: Int, scope: String, stack: String, plan: String,
      startMs: Long, var endMs: Long, stages: Seq[Int])

  final case class Exec(details: String, plan: String)

  final class StageAgg {
    var cpuNs = 0L
    var gcMs = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val execs = new ConcurrentHashMap[Long, Exec]()
  private val execScope = new ConcurrentHashMap[Long, String]()
  private val stageAgg = new ConcurrentHashMap[Int, StageAgg]()
  private val planning = new ConcurrentHashMap[String, java.lang.Double]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      val execId = props.flatMap(p => Option(p.getProperty(ExecIdProp))).map(_.toLong)
      val scopeProp = props.flatMap(p => Option(p.getProperty(ScopeProp)))
      scopeProp.foreach(s => execId.foreach(id => execScope.putIfAbsent(id, s)))
      val scope = scopeProp.orElse(execId.flatMap(id => Option(execScope.get(id))))
        .getOrElse("")
      val exec = execId.flatMap(id => Option(execs.get(id)))
      val stack = exec.map(_.details).getOrElse(
        e.stageInfos.headOption.map(_.details).getOrElse(""))
      jobs.put(e.jobId, Job(e.jobId, scope, stack, exec.map(_.plan).getOrElse(""),
        e.time, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val a = stageAgg.computeIfAbsent(e.stageId, _ => new StageAgg)
      a.synchronized {
        Option(e.taskMetrics).foreach { m =>
          a.cpuNs += m.executorCpuTime
          a.gcMs += m.jvmGCTime
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.put(s.executionId, Exec(s.details, s.physicalPlanDescription))
      case s: SparkListenerSQLExecutionEnd =>
        // analysis + optimisation + physical planning of the execution,
        // charged to the span its jobs ran under
        PerfbenchSqlBridge.planningMs(s).foreach { ms =>
          val scope = Option(execScope.get(s.executionId)).getOrElse("")
          planning.merge(scope, ms, (a, b) => a + b)
        }
      case _ => ()
    }
  }

  sc.addSparkListener(listener)

  /** Waits until every queued listener event has been delivered. */
  def finish(): Unit = PerfbenchBridge.drainListeners(sc)

  // -------------------------------------------------------------- queries

  def jobsWhere(p: Job => Boolean): Seq[Job] = jobs.values.asScala.filter(p).toSeq.sortBy(_.id)
  def jobsIn(scope: String): Seq[Job] = jobsWhere(_.scope == scope)

  def stagesOf(js: Seq[Job]): Seq[StageAgg] =
    js.flatMap(_.stages).distinct.flatMap(s => Option(stageAgg.get(s)))

  /** Wall time the jobs cover, overlapping jobs counted once. */
  def unionMs(js: Seq[Job]): Double = {
    val iv = js.filter(_.endMs >= 0).map(j => (j.startMs, j.endMs)).sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    cur.foreach { case (cs, ce) => total += ce - cs }
    total.toDouble
  }

  def cpuMs(js: Seq[Job]): Double = stagesOf(js).map(_.cpuNs).sum / 1e6
  def gcMs(js: Seq[Job]): Double = stagesOf(js).map(_.gcMs).sum.toDouble

  def planningMs(scopes: Seq[String]): Double =
    scopes.map(s => Option(planning.get(s)).map(_.doubleValue).getOrElse(0.0)).sum

  def spansJson: String = spans.synchronized {
    spans.sortBy(_.id).map { s =>
      f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}"""
    }.mkString("[", ",\n", "]")
  }
}

object Trace {
  val ScopeProp = "perfbench.span"
  private val ExecIdProp = "spark.sql.execution.id"
  private val Frame = raw"graft\.([a-z.]+)\.([A-Za-z0-9]+)\$$?\.([$$A-Za-z0-9_]+)".r

  /** Hadoop FileSystem byte counters for the local file system (it
    * counts no operations).
    */
  def fsCounters(): Map[String, Long] = {
    val st = FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file")
    Map(
      "read_bytes" -> st.map(_.getBytesRead).sum,
      "write_bytes" -> st.map(_.getBytesWritten).sum)
  }

}
