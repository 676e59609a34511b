package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and writes its raw record (every op, pass, span,
  * job and plan fact, plus the environment) as JSON. `run.py` turns the
  * record into metrics; nothing here computes a statistic.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --work DIR --expected FILE --out FILE [--record-expected]
  */
object Main {
  def main(args: Array[String]): Unit = {
    val kv = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    val workload = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val trace = arg("trace") == "1"
    val work = Paths.get(arg("work")).toAbsolutePath
    val out = Paths.get(arg("out"))

    val calBefore = Env.calibrate()
    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4096")
      .config("spark.sql.extensions", "graft.lake.LakeExtensions")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder(spark)
    val ctx = Ctx(spark, rec, seed, Paths.get(arg("data")).toAbsolutePath, work,
      Paths.get(arg("expected")), args.contains("--record-expected"))
    def make(name: String): Workload = name match {
      case "registry" => new RegistryWorkload(ctx)
      case "upgrade_arc" => new UpgradeArcWorkload(ctx)
      case "ingest_query" => new IngestWorkload(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    val w = make(workload)
    val sessionMs = (System.nanoTime() - t0) / 1e6

    val w0 = rec.now()
    rec.group("warmup", "warmup")(_ => w.setup())
    val warmupMs = rec.now() - w0

    // Timed passes until `seconds` have gone by and the workload's
    // minimum (three) is met. A traced run alternates untraced and traced
    // passes, at least untraced, traced, untraced, so the tracing overhead
    // compares the traced pass with untraced passes on both sides of it.
    val start = System.nanoTime()
    var i = 0
    while (i < w.minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && i % 2 == 1
      System.gc()
      rec.setTracing(traced)
      rec.group("pass", "timed") { g =>
        g.str("traced") = if (traced) "1" else "0"
        w.pass(i, traced)
      }
      rec.setTracing(false)
      i += 1
    }
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    val heapMb = Env.heapAfterGcMb()
    val jobs = rec.jobs
    spark.stop()
    val calAfter = Env.calibrate()

    val record = Map(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "session_ms" -> sessionMs, "warmup_ms" -> warmupMs, "heap_after_mb" -> heapMb,
      "env" -> (Env.describe() ++ Map("spin_before" -> calBefore, "spin_after" -> calAfter)),
      "facts" -> w.facts.toMap,
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "t0" -> s.t0, "t1" -> s.t1, "num" -> s.num.toMap, "str" -> s.str.toMap)),
      "jobs" -> jobs.map(j => Map("id" -> j.id, "span" -> j.span, "t0" -> j.t0, "t1" -> j.t1,
        "stages" -> j.stages, "tasks" -> j.tasks, "run_ms" -> j.runMs,
        "shuffle_bytes" -> j.shuffleBytes, "spill_bytes" -> j.spillBytes, "gc_ms" -> j.gcMs)),
      "qes" -> rec.qes.map(q => Map("op" -> q.op, "planning_ms" -> q.planningMs,
        "files_read" -> q.filesRead, "scan_rows" -> q.scanRows, "bridged" -> q.bridged)))
    Files.write(out, Json.write(record).getBytes(StandardCharsets.UTF_8))
  }
}

/** The run's environment: machine, JVM, and spin calibrations that make
  * a noisy window visible in the record itself. */
object Env {
  private def spin(iters: Int): Long = {
    var x = 88172645463325252L
    var i = 0
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
  }

  /** Best of three single-thread spins and best of three spins on four
    * threads at once (milliseconds). */
  def calibrate(): Map[String, Double] = {
    val iters = 30000000
    var sink = 0L
    val single = (1 to 3).map(_ => timeMs { sink ^= spin(iters) }).min
    val four = (1 to 3).map { _ =>
      timeMs {
        val ts = (1 to 4).map(_ => new Thread(() => { if (spin(iters) == 0) print("") }))
        ts.foreach(_.start()); ts.foreach(_.join())
      }
    }.min
    if (sink == 42) print("")
    Map("single_ms" -> single, "four_threads_ms" -> four)
  }

  /** Least heap in use over three full GCs a short pause apart (the
    * pauses let Spark's cleaner thread release what the GCs queued). */
  def heapAfterGcMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }.min
  }

  def describe(): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
    "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "gc" -> java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getName).mkString(", "),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "master" -> "local[4]")
}

/** Minimal JSON writer for the record's maps, sequences and scalars. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
