package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.lake.{LakeCatalog, LakeSql}
import graft.ops.{Upgrader, Verifier}

final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, data: Path,
    work: Path, expected: Path, recordExpected: Boolean)

/** A workload: untimed setup (including its warmup), then timed passes.
  * Each pass records its ops with phase "timed"; per-pass set-up work
  * (creating and loading a fresh table) is an op with phase "setup", and
  * output checks are ops with phase "check". */
abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def rec: Recorder = ctx.rec
  /** Values that go into the run record as they are. */
  val facts: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  /** Timed passes a run makes at least, however short `--seconds` is:
    * three, so each op's median over the passes drops the first pass,
    * which still generates and compiles code, and one pass slowed by a
    * noisy moment on a shared machine. */
  def minPasses: Int = 3

  def setup(): Unit
  def pass(index: Int, traced: Boolean): Unit
}

object Workload {
  /** Order-independent digest of a result: row count and the sum of each
    * row's xxhash64. Doubles are narrowed to float first so last-bit
    * differences in floating sums across shuffle orders do not count as
    * a mismatch; maps hash by their string form. */
  def digest(df: DataFrame): String = {
    def canon(t: DataType): DataType = t match {
      case DoubleType => FloatType
      case ArrayType(e, n) => ArrayType(canon(e), n)
      case StructType(fs) => StructType(fs.map(f => f.copy(dataType = canon(f.dataType))))
      case _: MapType => StringType
      case o => o
    }
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = d.schema.fields.map(f => col(f.name).cast(canon(f.dataType)))
    val r = d.select(cols.toIndexedSeq: _*)
      .agg(count(lit(1)), sum(xxhash64(cols.indices.map(i => col(s"c$i")): _*)
        .cast(DecimalType(38, 0))))
      .head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).fold("null")(_.toPlainString)}"
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      finally st.close()
    }

  def fail(s: Span, why: String): Unit = {
    s.num("ok") = 0
    s.str("error") = why
  }
}

/** `registry`: the registry subset, each query written to the noop sink. */
class RegistryWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private val expectedDoc = mapper.readTree(ctx.expected.toFile)
  private val names: Seq[String] =
    expectedDoc.get("queries").fieldNames().asScala.toSeq
  private val order = Plan.shuffle(names, ctx.seed)
  private val dataDir = ctx.data.resolve("sf0.001").toString

  private def query(n: String): DataFrame = SparkEntry.queries(n)(spark, dataDir)

  /** No cached relation or checkpoint block of one query is charged to
    * the next. Unlike the gated sweep this forces no GC per query (a
    * forced full GC costs about 0.2 s, 14 of them per pass); the run
    * forces one before each pass instead. */
  private def level(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
  }

  /** The warmup pass: each query's result is digested (one action over
    * every column) and compared with the digest recorded for this data. */
  def setup(): Unit = {
    val got = mutable.LinkedHashMap[String, String]()
    order.foreach { n =>
      level()
      rec.op("check", n, "warmup") { s =>
        val d = digest(query(n))
        got(n) = d
        val want = expectedDoc.get("queries").get(n).asText()
        s.str("digest") = d
        if (!ctx.recordExpected && d != want) fail(s, s"digest $d != expected $want")
      }
    }
    if (ctx.recordExpected) facts("digests") = names.map(n => n -> got.getOrElse(n, "error")).toMap
  }

  def pass(index: Int, traced: Boolean): Unit =
    order.foreach { n =>
      level()
      rec.op("read", n, "timed") { _ =>
        val df = rec.span("queries.construct")(_ => query(n))
        rec.span("queries.action")(_ => df.write.format("noop").mode("overwrite").save())
      }
    }
}

/** Shared lake plumbing: the source table, one plain and one traced SQL
  * dispatcher over the same warehouse, and the replay checksum. */
abstract class LakeWorkload(ctx: Ctx) extends Workload(ctx) {
  import Workload._

  protected val db = "bench"
  protected val warehouse: Path = ctx.work.resolve("warehouse")
  protected val plainSql = new LakeSql(new LakeCatalog(spark, warehouse))
  protected val tracedSql = new TracingSql(new TracingCatalog(spark, warehouse, rec), rec)
  protected def sqlFor(traced: Boolean): LakeSql = if (traced) tracedSql else plainSql
  protected val watch = new TableWatch(warehouse)

  protected val sourceFile: Path = ctx.data.resolve("sf0.01").resolve("lineitem.parquet")
  protected val source: DataFrame = spark.read.parquet(sourceFile.toString)
  protected val sourceBytes: Long = Files.size(sourceFile)
  protected val columns: Seq[String] = source.columns.toSeq
  protected val ddl: String = source.schema.toDDL

  rec.afterOp = s => watch.charge(s)

  protected def createSql(table: String, version: Int): String =
    s"""CREATE TABLE $db.$table ($ddl)
        PARTITIONED BY (years(l_shipdate))
        TBLPROPERTIES ('format-version' = '$version',
          'write.delete.mode' = 'merge-on-read',
          'write.update.mode' = 'merge-on-read')"""

  /** Drops, creates and bulk-loads `table` (per-pass set-up). */
  protected def load(sql: LakeSql, table: String, version: Int, rows: DataFrame): Unit = {
    rec.op("setup", "load", "setup") { _ =>
      sql.run(s"DROP TABLE IF EXISTS $db.$table")
      sql.run(createSql(table, version))
      sql.catalog.loadTable(db, table).get.append(rows)
    }
    watch.mark()
  }

  private def checksumSql(table: String): String =
    s"SELECT COUNT(*) AS n, SUM(CAST(xxhash64(${columns.mkString(", ")}) AS DECIMAL(38,0))) AS h " +
      s"FROM $db.$table"

  /** Compares the table with the replayed plain DataFrame `model`. */
  protected def checkReplay(sql: LakeSql, table: String, model: DataFrame): Unit =
    rec.op("check", "replay", "check") { s =>
      val got = sql.run(checksumSql(table)).head()
      val want = model.agg(count(lit(1)),
        sum(xxhash64(columns.map(col): _*).cast(DecimalType(38, 0)))).head()
      s.str("digest") = s"${got.getLong(0)}:${got.get(1)}"
      if (got.getLong(0) != want.getLong(0) || got.get(1) != want.get(1))
        fail(s, s"table ${got.getLong(0)}:${got.get(1)} != replay ${want.getLong(0)}:${want.get(1)}")
    }

  protected def recordBytes(table: String, userBytes: Double): Unit = {
    val b = dirBytes(warehouse.resolve(db).resolve(table))
    facts.getOrElseUpdate("bytes_per_user_byte", ArrayBuffer[Double]())
      .asInstanceOf[ArrayBuffer[Double]] += b / userBytes
  }

  protected def finishTable(table: String): Unit = {
    val t = plainSql.catalog.loadTable(db, table).get
    facts("files_live") = t.dataFiles.size
    facts("delete_files_live") = t.deleteFiles.size
    facts("snapshots_end") = t.meta.snapshots.size
  }
}

/** `upgrade_arc`: the reference's v2 → v3 workflow on a loaded table. */
class UpgradeArcWorkload(ctx: Ctx) extends LakeWorkload(ctx) {
  import Workload._

  private val Waves = 2
  private val KeysPerDelete = 20
  /** (order key, ship year) -> source rows, for the point probes. */
  private lazy val keyYears: Map[(Long, Int), Int] =
    source.select(col("l_orderkey"), year(col("l_shipdate"))).collect()
      .groupBy(r => (r.getLong(0), r.getInt(1))).map { case (k, v) => k -> v.length }
  private lazy val orderKeys: IndexedSeq[Long] = keyYears.keys.map(_._1).toSeq.distinct.sorted.toIndexedSeq

  /** The warmup arc runs one wave: every statement kind, fewer times. */
  def setup(): Unit = arc(-1, traced = false, phase = "warmup", waves = 1)

  def pass(index: Int, traced: Boolean): Unit = arc(index, traced, "timed", Waves)

  private def arc(index: Int, traced: Boolean, phase: String, waves: Int): Unit = {
    val sql = sqlFor(traced)
    val table = if (index < 0) "arc_warmup" else s"arc_$index"
    val fq = s"$db.$table"
    val plan = Plan.arc(ctx.seed, index, orderKeys, waves, KeysPerDelete)
    val verifier = new Verifier(sql.catalog, strict = true)
    def verify(name: String, mustPass: Boolean): Unit =
      rec.op("verify", name, phase) { s =>
        val r = verifier.verify(db, table)
        s.num("probe_failures") = r.probes.count(!_.ok)
        if (r.ok != mustPass) fail(s, s"verifier ok=${r.ok}, expected $mustPass")
      }

    load(sql, table, 2, source)
    val deleted = mutable.Set[Long]()
    plan.waves.foreach { w =>
      rec.op("write", "delete", phase)(_ =>
        sql.run(s"DELETE FROM $fq WHERE l_orderkey IN (${w.deleteKeys.mkString(", ")})"))
      deleted ++= w.deleteKeys
      rec.op("write", "update", phase)(_ =>
        sql.run(s"UPDATE $fq SET l_quantity = l_quantity + 1 WHERE l_partkey % ${w.mod} = ${w.rem}"))
      // a partition-pruned point probe on a key no DELETE has touched
      val ((key, yr), want) = keyYears.find { case ((k, _), _) => k == w.probeKey && !deleted(k) }
        .getOrElse(keyYears.find { case ((k, _), _) => !deleted(k) }.get)
      rec.op("read", "point", phase) { s =>
        val got = sql.run(s"SELECT * FROM $fq WHERE l_shipdate >= TIMESTAMP '$yr-01-01 00:00:00' " +
          s"AND l_shipdate < TIMESTAMP '${yr + 1}-01-01 00:00:00' AND l_orderkey = $key").collect().length
        s.num("rows_returned") = got
        if (got != want) fail(s, s"point probe returned $got rows, expected $want")
      }
    }
    verify("verify_v2", mustPass = false)
    rec.op("maint", "upgrade", phase) { s =>
      val o = new Upgrader(sql).upgradeTable(db, table)
      if (!o.ok) fail(s, o.detail)
    }
    rec.op("maint", "expire", phase)(_ =>
      sql.run(s"CALL lake.system.expire_snapshots(table => '$fq', " +
        "older_than => TIMESTAMP '2100-01-01 00:00:00', retain_last => 1)"))
    verify("verify_v3", mustPass = true)
    rec.op("write", "delete_v3", phase)(_ =>
      sql.run(s"DELETE FROM $fq WHERE l_orderkey IN (${plan.v3DeleteKeys.mkString(", ")})"))
    verify("verify_v3_delete", mustPass = true)

    if (phase == "timed") {
      val model = plan.waves.foldLeft(source) { (m, w) =>
        m.filter(!col("l_orderkey").isin(w.deleteKeys: _*))
          .withColumn("l_quantity", when(col("l_partkey") % w.mod === w.rem,
            col("l_quantity") + 1).otherwise(col("l_quantity")))
      }.filter(!col("l_orderkey").isin(plan.v3DeleteKeys: _*))
      checkReplay(plainSql, table, model)
      recordBytes(table, sourceBytes.toDouble)
      finishTable(table)
    }
    plainSql.run(s"DROP TABLE IF EXISTS $fq")
  }
}

/** `ingest_query`: a seeded stream of small writes beside reads on a v3
  * merge-on-read table, with no compaction or expiry. */
class IngestWorkload(ctx: Ctx) extends LakeWorkload(ctx) {
  import Workload._

  private val InitialRows = 20000
  private val Batch = 50
  private val Ops = 30
  private val WarmupOps = 12

  private val rows: Array[Row] = source.collect()
  private val keyOf: Array[Long] = rows.map(_.getAs[Long]("l_orderkey"))
  private val byKey: Map[Long, Array[Int]] =
    keyOf.indices.toArray.groupBy(keyOf(_))
  private val shipIdx = source.schema.fieldIndex("l_shipdate")
  private def yearOf(i: Int): Int = rows(i).get(shipIdx) match {
    case t: java.sql.Timestamp => t.toLocalDateTime.getYear
    case t: java.time.LocalDateTime => t.getYear
    case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).getYear
    case o => throw new IllegalStateException(s"unexpected l_shipdate value $o")
  }
  private val indexed: DataFrame = spark.createDataFrame(
    rows.indices.map(i => Row.fromSeq(rows(i).toSeq :+ i.toLong)).asJava,
    source.schema.add("idx", LongType))

  private def literal(v: Any): String = v match {
    case null => "NULL"
    case s: String => "'" + s.replace("'", "''") + "'"
    case d: Double => s"${d}D"
    case l: Long => s"${l}L"
    case t: java.sql.Timestamp => s"TIMESTAMP '$t'"
    case t: java.time.LocalDateTime => s"TIMESTAMP_NTZ '$t'"
    case o => o.toString
  }

  def setup(): Unit = stream(-1, traced = false, "warmup", WarmupOps)

  def pass(index: Int, traced: Boolean): Unit = stream(index, traced, "timed", Ops)

  private def stream(index: Int, traced: Boolean, phase: String, ops: Int): Unit = {
    val sql = sqlFor(traced)
    val table = if (index < 0) "ingest_warmup" else s"ingest_$index"
    val fq = s"$db.$table"
    load(sql, table, 3, indexed.filter(col("idx") < InitialRows).drop("idx"))

    val alive = mutable.BitSet(0 until InitialRows: _*)
    var cursor = InitialRows
    val deletes = ArrayBuffer[(Long, Long)]()
    val snapCounts = ArrayBuffer[(Long, Int)]()
    var snapshots = 0
    def committed(): Unit = {
      val t = plainSql.catalog.loadTable(db, table).get
      snapCounts += ((t.currentSnapshot.get.id, alive.size))
      snapshots = t.meta.snapshots.size
    }
    committed()
    def count(s: Span, got: Long, want: Long): Unit =
      if (got != want) fail(s, s"count $got != expected $want")

    val (kinds, r) = Plan.ingest(ctx.seed, index, ops)
    kinds.foreach {
      case "insert" =>
        val batch = cursor until (cursor + Batch)
        val values = batch.map(i => rows(i).toSeq.map(literal).mkString("(", ", ", ")"))
        rec.op("write", "insert", phase)(_ => sql.run(s"INSERT INTO $fq VALUES ${values.mkString(", ")}"))
        alive ++= batch
        cursor += Batch
        committed()
      case "delete" =>
        val key = keyOf(alive.toSeq(r.nextInt(alive.size)))
        rec.op("write", "delete", phase)(_ => sql.run(s"DELETE FROM $fq WHERE l_orderkey = $key"))
        alive --= byKey(key)
        deletes += ((key, cursor.toLong))
        committed()
      case "point" =>
        val i = r.nextInt(cursor)
        val (key, year) = (keyOf(i), yearOf(i))
        val want = byKey(key).count(j => alive(j) && yearOf(j) == year)
        rec.op("read", "point", phase) { s =>
          val got = sql.run(s"SELECT * FROM $fq WHERE l_shipdate >= TIMESTAMP '$year-01-01 00:00:00' " +
            s"AND l_shipdate < TIMESTAMP '${year + 1}-01-01 00:00:00' AND l_orderkey = $key").collect().length
          s.num("rows_returned") = got
          count(s, got, want)
        }
      case "count" =>
        rec.op("read", "count", phase)(s =>
          count(s, sql.run(s"SELECT COUNT(*) AS n FROM $fq").head().getLong(0), alive.size))
      case "time_travel" =>
        val (sid, want) = snapCounts(r.nextInt(snapCounts.size))
        rec.op("read", "time_travel", phase)(s =>
          count(s, sql.run(s"SELECT COUNT(*) AS n FROM $fq VERSION AS OF $sid").head().getLong(0), want))
      case "snapshots" =>
        rec.op("read", "snapshots", phase)(s =>
          count(s, sql.run(s"SELECT COUNT(*) AS n FROM $fq.snapshots").head().getLong(0), snapshots))
      case "files" =>
        rec.op("read", "files", phase) { s =>
          val f = sql.run(s"SELECT COUNT(*) AS n, SUM(record_count) AS r FROM $fq.files").head()
          if (f.getLong(0) < 1 || f.getLong(1) < alive.size)
            fail(s, s"files ${f.getLong(0)} holding ${f.getLong(1)} rows for ${alive.size} live rows")
        }
    }

    val deleted = spark.createDataFrame(
      deletes.map { case (k, b) => Row(k, b) }.asJava,
      StructType(Seq(StructField("dk", LongType), StructField("bound", LongType))))
    val model = indexed.filter(col("idx") < cursor)
      .join(deleted,
        col("l_orderkey") === col("dk") && col("idx") < col("bound"), "left_anti")
      .drop("idx")
    checkReplay(plainSql, table, model)
    if (phase == "timed") {
      recordBytes(table, sourceBytes.toDouble * cursor / rows.length)
      finishTable(table)
    }
    plainSql.run(s"DROP TABLE IF EXISTS $fq")
  }
}
