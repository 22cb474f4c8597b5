package perfbench

import perfbench.Tracer.{Job, Window}

/** Per-layer figures of one traced operation, named after the repo's
  * modules. Time of a layer is the wall time of the root SQL executions
  * (or plain RDD jobs) whose call site resolves to it; counters come from
  * the stages of its jobs. */
object Layers {

  /** AdtlParser method of a frame, closures included
    * (`AdtlParser$$anonfun$report$1.applyOrElse` is `report`). */
  private val AdtlMethod = """^graft\.adtl\.AdtlParser[.$]+(?:anonfun\$)?(\w+)""".r

  /** adtl layer of a call site, by its first `graft.` frame. */
  private def adtlLayer(site: String): String =
    Tracer.firstFrame(site, "graft.").flatMap(f => AdtlMethod.findFirstMatchIn(f))
      .map(_.group(1)) match {
      case Some("readCsv") => "scan"
      case Some("writeCsv" | "writeParquet") => "sink"
      case Some("report") => "report"
      case _ => "other"
    }

  private val SinkTable = """/p\d+-([A-Za-z0-9_]+)\.(?:csv|parquet)""".r

  def adtl(w: Window, started: Long, ended: Long, specMs: Double,
      kinds: Map[String, String], sourceRows: Long): Seq[(String, Double)] = {
    // seconds per layer: root SQL executions, plus jobs that ran outside one
    val execSeconds = w.execs.map(x => (adtlLayer(x.start.details), x)).groupBy(_._1)
      .map { case (l, xs) => l -> xs.map(_._2.seconds).sum }
    val rddSeconds = w.jobs.filter(_.exec.isEmpty).groupBy(j => adtlLayer(j.site))
      .map { case (l, js) => l -> js.map(j => (j.end - j.start) / 1000.0).sum }
    def seconds(l: String) = execSeconds.getOrElse(l, 0.0) + rddSeconds.getOrElse(l, 0.0)
    def in(l: String)(j: Job) = adtlLayer(j.site) == l

    val sinkByKind = w.execs.filter(x => adtlLayer(x.start.details) == "sink")
      .flatMap(x => SinkTable.findFirstMatchIn(x.start.plan)
        .flatMap(m => kinds.get(m.group(1))).map(_ -> x.seconds))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
    val sink = w.counters(in("sink"))
    val report = w.counters(in("report"))
    val all = w.counters(_ => true)
    val sinkS = seconds("sink")
    val parts = specMs / 1000 + seconds("scan") + sinkS + seconds("report") + seconds("other")
    Seq(
      "adtl.spec.ms" -> specMs,
      "adtl.scan.ms" -> seconds("scan") * 1000,
      "adtl.sink.s" -> sinkS,
      "adtl.sink.jobs" -> sink.jobs.toDouble,
      "adtl.sink.tasks" -> sink.tasks.toDouble,
      "adtl.sink.task_s" -> sink.taskSeconds,
      "adtl.sink.concurrency" -> (if (sinkS > 0) sink.taskSeconds / sinkS else 0.0),
      "adtl.sink.single_task_stages" -> sink.singleTaskStages.toDouble,
      "adtl.sink.shuffle_mb" -> sink.shuffleMb,
      "adtl.sink.spill_mb" -> sink.spillMb,
      "adtl.sink.groupBy.s" -> sinkByKind.getOrElse("groupBy", 0.0),
      "adtl.sink.oneToOne.s" -> sinkByKind.getOrElse("oneToOne", 0.0),
      "adtl.sink.oneToMany.s" -> sinkByKind.getOrElse("oneToMany", 0.0),
      "adtl.report.s" -> seconds("report"),
      "adtl.report.jobs" -> report.jobs.toDouble,
      "adtl.report.task_s" -> report.taskSeconds,
      "adtl.other.s" -> seconds("other"),
      "adtl.jobs" -> all.jobs.toDouble,
      "adtl.scan_ratio" -> (if (sourceRows > 0) all.recordsRead.toDouble / sourceRows else 0.0),
      "adtl.cached_mb" -> w.cachedBytes / 1e6,
      "adtl.driver_only_s" -> w.driverOnlySeconds(started, ended),
      "trace.wall_s" -> (ended - started) / 1000.0,
      "trace.parts_s" -> parts)
  }

  private val OpsObject = """graft\.ops\.([A-Za-z]+)""".r

  /** graft.ops object a job ran under, by its first `graft.ops.` frame. */
  def opsObject(j: Job): String = Tracer.firstFrame(j.site, "graft.ops.")
    .flatMap(f => OpsObject.findFirstMatchIn(f)).map(_.group(1)).getOrElse("other")

  def ops(w: Window, started: Long, ended: Long, buildS: Double,
      sourceRows: Long): Seq[(String, Double)] = {
    val buildEnd = started + (buildS * 1000).toLong
    def isBuild(j: Job) =
      if (j.phase.nonEmpty) j.phase == "build" else j.start < buildEnd
    val build = w.counters(isBuild)
    val exec = w.counters(j => !isBuild(j))
    val all = w.counters(_ => true)
    val wall = (ended - started) / 1000.0
    val byObject = w.jobs.groupBy(opsObject).map { case (o, js) => s"ops.$o.jobs" -> js.size.toDouble }
    Seq(
      "ops.build.s" -> buildS,
      "ops.build.jobs" -> build.jobs.toDouble,
      "ops.build.task_s" -> build.taskSeconds,
      "ops.exec.s" -> (wall - buildS),
      "ops.exec.jobs" -> exec.jobs.toDouble,
      "ops.task_s" -> all.taskSeconds,
      "ops.single_task_stages" -> all.singleTaskStages.toDouble,
      "ops.shuffle_mb" -> all.shuffleMb,
      "ops.records_read" -> all.recordsRead.toDouble,
      "ops.source_rows" -> sourceRows.toDouble,
      "ops.driver_only_s" -> w.driverOnlySeconds(started, ended),
      "trace.wall_s" -> wall,
      "trace.parts_s" -> wall) ++ byObject
  }
}
