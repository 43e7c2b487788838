package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

import graft.gateway.{ConnectionConfig, DialectRewriter, Engine, LimitInjector, SqlGuard}
import graft.sources.IcebergLite

/** Process-wide counters at one instant: Spark listener totals, JVM GC
  * time and the Hadoop FileSystem read statistics.
  */
final case class Counters(jobs: Long, tasks: Long, cpuNs: Long, shuffleBytes: Long,
    gcMs: Long, readOps: Long, readBytes: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, gcMs - o.gcMs, readOps - o.readOps, readBytes - o.readBytes)
  def +(o: Counters): Counters = Counters(jobs + o.jobs, tasks + o.tasks, cpuNs + o.cpuNs,
    shuffleBytes + o.shuffleBytes, gcMs + o.gcMs, readOps + o.readOps, readBytes + o.readBytes)
}

object Counters {
  val zero: Counters = Counters(0, 0, 0, 0, 0, 0, 0)
}

final class LayerListener extends SparkListener {
  val jobs, tasks, cpuNs, shuffleBytes = new AtomicLong()
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** Times spans from outside the program under test. With one request in
  * flight, the counter deltas across a span belong to that span: the
  * listener bus is drained at both ends, so every event of a job that
  * finished inside the span has been counted.
  */
final class Meter(spark: SparkSession) {
  private val listener = new LayerListener
  spark.sparkContext.addSparkListener(listener)

  @annotation.nowarn("cat=deprecation")
  def snapshot(): Counters = {
    ListenerBusDrain(spark.sparkContext)
    val fs = FileSystem.getAllStatistics.asScala
    // GC time of the whole JVM: in local mode the executors are this JVM.
    val gcMs = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    Counters(listener.jobs.get, listener.tasks.get, listener.cpuNs.get,
      listener.shuffleBytes.get, gcMs, fs.map(_.getReadOps.toLong).sum, fs.map(_.getBytesRead).sum)
  }

}

/** Per-layer record of one request or corpus query: span times in ms and
  * the counter delta of each span.
  */
final class Spans {
  val ms = mutable.LinkedHashMap.empty[String, Double]
  val counters = mutable.Map.empty[String, Counters]
  val extra = mutable.Map.empty[String, Double]
  /** Every span as (name, start ns, end ns), in order. */
  val timeline = mutable.ArrayBuffer.empty[(String, Long, Long)]
  var failedAt: Option[String] = None

  /** Runs `f` as span `name`; without a meter it is timed only. */
  def step[T](meter: Option[Meter], name: String)(f: => T): T = {
    failedAt = Some(name)
    val c0 = meter.map(_.snapshot())
    val t0 = System.nanoTime()
    val v = f
    val t1 = System.nanoTime()
    val d = meter.map(_.snapshot() - c0.get).getOrElse(Counters.zero)
    val t = (t1 - t0) / 1e6
    timeline += ((name, t0, t1))
    ms(name) = ms.getOrElse(name, 0.0) + t
    counters(name) = counters.getOrElse(name, Counters.zero) + d
    failedAt = None
    v
  }
}

object Replay {

  /** Replays `Engine.executeQuery` for `op` as its public steps, in its
    * order, timing each step. A step that throws ends the replay; the
    * spans measured so far are kept and `failedAt` names the step.
    */
  def engine(m: Meter, root: SparkSession, conn: ConnectionConfig, op: Op): Spans = {
    val meter = Some(m)
    val s = new Spans
    try {
      val cfg = s.step(meter, "session")(ConnectionConfig.validated(conn))
      val spark = s.step(meter, "session") {
        val session = root.newSession()
        graft.functions.GraftFunctions.register(session)
        Engine.applyStorageSettings(session, cfg)
        session
      }
      s.step(meter, "guard")(cfg.tablePath.foreach(IcebergLite.assertNoDeletes(spark, _)))
      val (bound, binders) = s.step(meter, "rewrite") {
        val converted = DialectRewriter.convertDuckDbDialect(
          DialectRewriter.convertReadParquet(op.sql, cfg))
        DialectRewriter.rejectUnknownDuckFunctions(converted)
        DialectRewriter.plan(spark, converted, cfg)
      }
      s.extra("binders") = binders.size.toDouble
      s.step(meter, "guard")(SqlGuard.validate(spark, bound).left.foreach(r => sys.error(r.message)))
      s.step(meter, "bind")(binders.foreach(_.apply()))
      val limited = s.step(meter, "analyze")(LimitInjector(spark.sql(bound), op.rowLimit)._1)
      s.step(meter, "plan")(limited.queryExecution.executedPlan)
      s.step(meter, "exec")(limited.collect())
      s.step(meter, "scan") {
        val plan = limited.queryExecution.executedPlan
        s.extra("scan_bytes") = Engine.bytesScanned(plan).toDouble
        s.extra("scan_files") = fileCount(plan).toDouble
      }
    } catch { case _: Exception => () }
    finally {
      val failed = s.failedAt
      s.step(meter, "release")(graft.ops.CacheScope.releaseCurrent())
      s.failedAt = failed
    }
    s
  }

  /** One corpus query as `graft.Bench` runs it: construction, physical
    * planning, then `queryExecution.toRdd.count()`.
    */
  def corpusQuery(meter: Option[Meter], spark: SparkSession, dataDir: String,
      fn: (SparkSession, String) => DataFrame): (Spans, Long) = {
    val s = new Spans
    val df = s.step(meter, "build")(fn(spark, dataDir))
    s.step(meter, "plan")(df.queryExecution.executedPlan)
    val rows = s.step(meter, "exec")(df.queryExecution.toRdd.count())
    (s, rows)
  }

  /** Files read by the plan's file scans (the `numFiles` metric). */
  def fileCount(plan: SparkPlan): Long = {
    def walk(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => p +: walk(a.executedPlan)
      case q: QueryStageExec => p +: walk(q.plan)
      case _ => p +: p.children.flatMap(walk)
    }
    walk(plan).flatMap(_.metrics.get("numFiles").map(_.value)).sum
  }
}
