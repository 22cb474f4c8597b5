package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JVM side of the benchmark: one client, one session, closed loop.
  *
  * `run.py` generates the inputs and a plan file, starts this main, and
  * checks what it leaves behind. Plan lines (tab-separated):
  *  - `conf <key> <value>`: a session setting;
  *  - `setup <spec> <csv>`: the operation each set-up ends with;
  *  - `warmup <spec> <csv>` / `warmup gate <name> <dataDir>`: untimed
  *    operations before the timed loop;
  *  - `parse <id> <spec> <csv> <table:kind,...> <rows>`: a timed parse;
  *  - `gate <name> <dataDir> <sourceRows>`: a timed connected-components gate;
  *  - `cycles <n>`: the least number of passes over the timed operations.
  * Timed operations repeat in plan order until `--seconds` have passed and
  * `cycles` passes are done. Results go to `--out` as JSON.
  */
object Bench {
  private val SetupRounds = 3

  def main(args: Array[String]): Unit = {
    val launched = System.nanoTime()
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workDir = Paths.get(opt("work")).toAbsolutePath
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val nproc = opt("nproc").toInt
    val plan = Files.readAllLines(Paths.get(opt("plan"))).asScala.toList
      .filter(_.nonEmpty).map(_.split("\t", -1).toList)
    val outDir = workDir.resolve("out")
    val confs = plan.collect { case "conf" :: k :: v :: _ => k -> v }.toMap
    val bench = new Bench(workDir, outDir, nproc, confs)

    val setups = plan.collect { case "setup" :: rest => rest }
    val setupSeconds = (1 to SetupRounds).map(_ => bench.setup(setups))
    // a failing warm-up is left to fail again, and be counted, when timed
    plan.collect { case "warmup" :: rest => rest }.foreach { w =>
      try w match {
        case "gate" :: name :: dir :: _ =>
          graft.SparkEntry.queries(name)(bench.spark, dir).write.format("noop").mode("overwrite").save()
        case spec :: csv :: _ =>
          bench.parse(spec, csv, outDir.resolve("warmup").toString, keep = false)
      } catch { case e: Exception => System.err.println(s"[perfbench] warm-up failed: $e") }
    }
    val ops: List[Op] = plan.collect {
      case "parse" :: id :: spec :: csv :: kinds :: rows :: _ =>
        ParseOp(id, spec, csv, kinds.split(",").filter(_.nonEmpty)
          .map(_.split(":")).map(a => a(0) -> a(1)).toMap, rows.toLong)
      case "gate" :: name :: dir :: rows :: _ => GateOp(name, dir, rows.toLong)
    }
    require(ops.nonEmpty, "plan has no timed operations")
    val cycles = plan.collectFirst { case "cycles" :: n :: _ => n.toInt }.getOrElse(1)
    val gates = ops.collect { case g: GateOp => g.name }.distinct
    if (gates.nonEmpty) Files.writeString(outDir.resolve("oracle_sql.json"),
      obj(gates.map(g => g -> q(graft.SparkEntry.oracleSql(g)))))

    System.err.println(f"[perfbench] set-up and warm-up took ${(System.nanoTime() - launched) / 1e9}%.1f s")
    val records = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    var i = 0
    while (i < ops.size * cycles || (System.nanoTime() - t0) / 1e9 < seconds) {
      val op = ops(i % ops.size)
      // traced runs time every operation twice, untraced and traced, in
      // alternating order, so the tracing overhead is measured in-run
      val modes = if (!traced) List(false) else if (i % 2 == 0) List(false, true) else List(true, false)
      modes.foreach(t => records += bench.run(op, i, t, first = i < ops.size))
      i += 1
    }
    val json = s"""{"setup_s": ${setupSeconds.mkString("[", ", ", "]")}, "nproc": $nproc, """ +
      s""""ops": ${records.mkString("[\n", ",\n", "]")}}"""
    Files.writeString(Paths.get(opt("out")), json)
    bench.spark.stop()
  }

  sealed trait Op
  final case class ParseOp(id: String, spec: String, csv: String,
      kinds: Map[String, String], rows: Long) extends Op
  final case class GateOp(name: String, dir: String, rows: Long) extends Op

  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")

  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
}

final class Bench(workDir: Path, outDir: Path, nproc: Int, confs: Map[String, String]) {
  import Bench._

  var spark: SparkSession = _
  private val tracer = new Tracer

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("perfbench")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", workDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", workDir.resolve("warehouse").toString)
      .config(confs)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One set-up: a fresh session plus the workload's first operation. */
  def setup(ops: List[List[String]]): Double = {
    if (spark != null) spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val t0 = System.nanoTime()
    spark = newSession()
    ops.foreach {
      case "gates" :: dir :: _ =>
        // the gate map and a first scan of the corpus the gates read
        graft.SparkEntry.queries.size
        graft.queries.Tables.documents(spark, dir).count()
      case spec :: csv :: _ => parse(spec, csv, outDir.resolve("setup").toString, keep = false)
      case other => throw new IllegalArgumentException(s"bad setup line: $other")
    }
    (System.nanoTime() - t0) / 1e9
  }

  /** `adtl parse` through the CLI entry point; returns the report path. */
  def parse(spec: String, csv: String, prefix: String, keep: Boolean): String = {
    val report = s"$prefix.json"
    graft.adtl.Main.main(Array("parse", spec, csv, "-o", prefix, "--save-report", report))
    if (!keep) deleteOutputs(prefix)
    report
  }

  private def deleteOutputs(prefix: String): Unit = {
    val p = Paths.get(prefix)
    if (Files.isDirectory(p.getParent)) Files.list(p.getParent).iterator().asScala
      .filter(_.getFileName.toString.startsWith(p.getFileName.toString + "-"))
      .foreach(deleteTree)
  }

  private def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p)) Files.list(p).iterator().asScala.toList.foreach(deleteTree)
    Files.deleteIfExists(p)
  }

  /** Data lines per table the CSV sink wrote under `prefix`. */
  private def csvRows(prefix: String, tables: Iterable[String]): Map[String, Long] =
    tables.map { t =>
      val dir = Paths.get(s"$prefix-$t.csv")
      val n = if (!Files.isDirectory(dir)) -1L else Files.list(dir).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .map(f => math.max(0L, Files.lines(f).count() - 1)).sum
      t -> n
    }.toMap

  def run(op: Op, i: Int, trace: Boolean, first: Boolean): String = {
    spark.catalog.clearCache()
    val sc = spark.sparkContext
    val fields = mutable.LinkedHashMap[String, String]("index" -> i.toString,
      "traced" -> trace.toString)
    // the spec load Main does first, timed on its own for the trace
    val specMs = op match {
      case p: ParseOp if trace =>
        val t = System.nanoTime()
        graft.adtl.AdtlParser.fromFile(p.spec)
        (System.nanoTime() - t) / 1e6
      case _ => 0.0
    }
    val prefix = outDir.resolve(s"p$i").toString
    var buildS = 0.0
    var gateResult: Option[DataFrame] = None
    if (trace) { tracer.clear(); sc.addSparkListener(tracer) }
    val started = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val error = try {
      op match {
        case p: ParseOp => parse(p.spec, p.csv, prefix, keep = true)
        case g: GateOp =>
          sc.setLocalProperty(Tracer.PhaseKey, "build")
          val df = graft.SparkEntry.queries(g.name)(spark, g.dir)
          buildS = (System.nanoTime() - t0) / 1e9
          sc.setLocalProperty(Tracer.PhaseKey, "exec")
          df.write.format("noop").mode("overwrite").save()
          gateResult = Some(df)
      }
      fields += "seconds" -> num((System.nanoTime() - t0) / 1e9)
      None
    } catch { case e: Throwable => Some(e) }
    finally sc.setLocalProperty(Tracer.PhaseKey, null)
    val ended = System.currentTimeMillis()

    if (trace) {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(tracer)
      val layers = op match {
        case p: ParseOp => Layers.adtl(tracer.window(), started, ended, specMs, p.kinds, p.rows)
        case g: GateOp => Layers.ops(tracer.window(), started, ended, buildS, g.rows)
      }
      fields += "layers" -> obj(layers.map { case (k, v) => k -> num(v) })
    }
    // outside the timed region: what the checks in run.py read
    op match {
      case p: ParseOp =>
        fields += "input" -> q(p.id)
        fields += "report" -> q(s"$prefix.json")
        fields += "csv_rows" -> obj(csvRows(prefix, p.kinds.keys).map { case (k, v) => k -> v.toString })
        deleteOutputs(prefix)
      case g: GateOp =>
        fields += "input" -> q(g.name)
        val dump = outDir.resolve(g.name)
        gateResult.filter(_ => first && !Files.exists(dump))
          .foreach(_.coalesce(1).write.parquet(dump.toString))
        fields += "dump" -> q(dump.toString)
    }
    error.foreach { e =>
      System.err.println(s"[perfbench] operation $i failed: $e")
      fields += "error" -> q(String.valueOf(e))
    }
    obj(fields)
  }
}
