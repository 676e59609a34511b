package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, RowDataSourceScanExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.lake.{LakeCatalog, LakeSql, LakeTable}

/** One timed interval on the benchmark's clock (epoch milliseconds with
  * sub-millisecond resolution). Passes and ops are recorded in every run;
  * nested spans only while tracing. `num`/`str` carry attributes. */
final class Span(val id: Int, val parent: Int, val name: String, val t0: Double) {
  var t1: Double = t0
  val num: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  val str: mutable.LinkedHashMap[String, String] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = num(k) = num.getOrElse(k, 0.0) + v
}

/** A Spark job as the listener saw it, charged to the span that was open
  * on the submitting thread (a local property, so broadcast and subquery
  * threads that copy local properties are charged correctly too). */
final class JobRec(val id: Int, val span: Int, val t0: Double) {
  var t1: Double = -1
  var stages, tasks = 0
  var runMs, shuffleBytes, spillBytes, gcMs = 0.0
}

/** Planner/executor facts of one finished query execution. */
final case class QeRec(op: Int, planningMs: Double, filesRead: Double,
    scanRows: Double, bridged: Int)

object Recorder {
  val SpanKey = "perfbench.span"
}

class Recorder(spark: SparkSession) {
  import Recorder.SpanKey

  private val sc = spark.sparkContext
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  val spans: ArrayBuffer[Span] = ArrayBuffer.empty
  private var stack: List[Span] = Nil
  private var traced = false

  private val jobListener = new JobListener
  private val planListener = new PlanListener
  val qes: ArrayBuffer[QeRec] = ArrayBuffer.empty
  /** Runs after each traced op (the lake workloads scan metadata here). */
  var afterOp: Span => Unit = _ => ()

  def jobs: Seq[JobRec] = jobListener.synchronized(jobListener.jobs.values.toSeq.sortBy(_.id))

  /** Attach (or detach) the Spark listeners; spans nest only while on. */
  def setTracing(on: Boolean): Unit = if (on != traced) {
    drain()
    if (on) {
      sc.addSparkListener(jobListener)
      spark.listenerManager.register(planListener)
    } else {
      sc.removeSparkListener(jobListener)
      spark.listenerManager.unregister(planListener)
      sc.setLocalProperty(SpanKey, null)
    }
    traced = on
  }

  def drain(): Unit = BenchBus.drain(sc)

  private def open(name: String): Span = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, now())
    spans += s
    stack = s :: stack
    if (traced) sc.setLocalProperty(SpanKey, s.id.toString)
    s
  }

  private def close(s: Span): Unit = {
    s.t1 = now()
    stack = stack.tail
    if (traced) sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
  }

  /** A pass or another always-recorded interval. */
  def group[T](name: String, phase: String)(f: Span => T): T = {
    val s = open(name)
    s.str("phase") = phase
    try f(s) finally close(s)
  }

  /** One workload operation: its latency is a sample of class `cls`.
    * A thrown exception marks the op failed and is not rethrown, so one
    * bad operation is counted instead of ending the run. */
  def op[T](cls: String, name: String, phase: String)(f: Span => T): Option[T] = {
    val s = open(name)
    s.str("cls") = cls
    s.str("phase") = phase
    val out =
      try { val r = f(s); if (!s.num.contains("ok")) s.num("ok") = 1; Some(r) }
      catch {
        case e: Exception =>
          s.num("ok") = 0
          s.str("error") = String.valueOf(e.getMessage).take(300)
          None
      } finally close(s)
    if (traced) {
      drain()
      planListener.synchronized {
        planListener.pending.foreach(p => qes += p.copy(op = s.id))
        planListener.pending.clear()
      }
      afterOp(s)
    }
    out
  }

  /** A nested span, recorded only while tracing. */
  def span[T](name: String)(f: Span => T): T =
    if (!traced) f(null)
    else {
      val s = open(name)
      try f(s) finally close(s)
    }

  private class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    private val stageJob = mutable.HashMap[Int, JobRec]()

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toInt).getOrElse(-1)
      val j = new JobRec(e.jobId, tag, e.time.toDouble)
      jobs(e.jobId) = j
      e.stageInfos.foreach(si => stageJob(si.stageId) = j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.t1 = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stageJob.get(e.stageInfo.stageId).foreach { j =>
        j.stages += 1; j.tasks += e.stageInfo.numTasks
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) stageJob.get(e.stageId).foreach { j =>
        j.runMs += m.executorRunTime
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        j.gcMs += m.jvmGCTime
      }
    }
  }

  private class PlanListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val pending: ArrayBuffer[QeRec] = ArrayBuffer.empty

    private def record(qe: QueryExecution): Unit = {
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(qe.tracker.phases.get).map(_.durationMs.toDouble).sum
      val rec =
        try {
          val plan = qe.executedPlan
          def metric(p: org.apache.spark.sql.execution.SparkPlan, k: String): Double =
            p.metrics.get(k).fold(0.0)(_.value.toDouble)
          val scans = collectWithSubqueries(plan) {
            case f: FileSourceScanExec => (metric(f, "numFiles"), metric(f, "numOutputRows"), 0)
            case b: BatchScanExec => (0.0, metric(b, "numOutputRows"), 0)
            case r: RowDataSourceScanExec => (0.0, metric(r, "numOutputRows"), 1)
          }
          QeRec(-1, planning, scans.map(_._1).sum, scans.map(_._2).sum, scans.map(_._3).sum)
        } catch { case _: Exception => QeRec(-1, planning, 0, 0, 0) }
      synchronized(pending += rec)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }
}

/** Catalog whose table loads are spans (`lake.catalog.load`). Used only
  * by traced passes; untraced passes use the plain catalog. */
class TracingCatalog(spark: SparkSession, warehouse: Path, rec: Recorder)
    extends LakeCatalog(spark, warehouse) {
  override def loadTable(db: String, table: String): Option[LakeTable] =
    rec.span("lake.catalog.load")(_ => super.loadTable(db, table))
}

/** SQL dispatcher whose statements are spans named by layer, with the
  * maintenance procedures' result counts kept as span attributes. */
class TracingSql(catalog: LakeCatalog, rec: Recorder) extends LakeSql(catalog) {
  override def run(sql: String, principal: Option[String]): DataFrame = {
    val kind = TracingSql.kind(sql)
    rec.span(kind) { s =>
      val df = super.run(sql, principal)
      if (s != null && kind.startsWith("lake.maint.") && kind != "lake.maint.alter") {
        val row = df.collect().head
        df.columns.indices.foreach(i => s.num(df.columns(i)) = row.getAs[Number](i).doubleValue)
      }
      df
    }
  }
}

object TracingSql {
  def kind(sql: String): String = {
    val up = sql.trim.toUpperCase
    if (up.startsWith("DELETE")) "lake.dml.delete"
    else if (up.startsWith("UPDATE")) "lake.dml.update"
    else if (up.startsWith("INSERT")) "lake.dml.insert"
    else if (up.startsWith("CALL") && up.contains("REWRITE_DATA_FILES")) "lake.maint.rewrite"
    else if (up.startsWith("CALL") && up.contains("EXPIRE_SNAPSHOTS")) "lake.maint.expire"
    else if (up.startsWith("ALTER")) "lake.maint.alter"
    else if (up.startsWith("SELECT") || up.startsWith("WITH")) "lake.sql.select"
    else "lake.sql.other"
  }
}

/** Filesystem view of the warehouse, read outside the program: which
  * metadata, data and delete files each traced op added, and their bytes.
  * Tables lay out as `<db>/<table>/{metadata,data,deletes}/...`. */
class TableWatch(warehouse: Path) {
  private val seen = mutable.HashSet[String]()

  private def files(): Seq[(Path, String)] =
    if (!Files.isDirectory(warehouse)) Nil
    else {
      val st = Files.walk(warehouse)
      try st.iterator().asScala
        .filter(p => Files.isRegularFile(p) && !p.getFileName.toString.endsWith(".crc"))
        .map(p => p -> warehouse.relativize(p))
        .collect { case (p, rel) if rel.getNameCount > 3 => p -> rel.getName(2).toString }
        .toList
      finally st.close()
    }

  /** Treats every file present now as already charged. */
  def mark(): Unit = files().foreach(f => seen += f._1.toString)

  /** Charges to `s` the files that appeared since the last call. */
  def charge(s: Span): Unit = {
    var newest = -1
    files().foreach { case (p, kind) =>
      val name = p.getFileName.toString
      val size = Files.size(p).toDouble
      val fresh = seen.add(p.toString)
      (kind, fresh) match {
        case ("metadata", true) =>
          s.add("meta_new_bytes", size)
          if (name.endsWith(".metadata.json")) s.add("meta_new_versions", 1)
        case ("data", true) if name.endsWith(".parquet") =>
          s.add("data_files_new", 1); s.add("data_bytes_new", size)
        case ("deletes", true) if name.endsWith(".parquet") => s.add("delete_files_new", 1)
        case _ =>
      }
      if (kind == "metadata" && name.matches("v\\d+\\.metadata\\.json")) {
        val v = name.drop(1).takeWhile(_.isDigit).toInt
        if (v > newest) { newest = v; s.num("version_json_bytes") = size }
      }
    }
  }
}
