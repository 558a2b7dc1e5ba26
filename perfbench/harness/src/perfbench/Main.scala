package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. One invocation runs one workload:
  *
  *  1. set-up: a session, `GraftExtensions.register` and `--warmups`
  *     untimed warm-up passes over the input tables. The first
  *     warm-up pass is also the correctness pass: query results are
  *     written for the oracle comparison, ingest decision records and
  *     lookups are checked here;
  *  2. timed passes over the same tables until `--seconds` have elapsed and
  *     at least `--min-passes` passes ran, one operation in flight at a time.
  *     With `--trace 1` every other pass runs with the listeners attached,
  *     so the same run measures the tracing overhead.
  *
  * Everything it measured goes to `--out` as JSON; perfbench/run.py turns
  * that into the reported metrics.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <dir> --work <dir> --cores <n>
  *   --warmups <n> --min-passes <n> --out <file>
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val cores = opt("cores").toInt
    val warmups = opt("warmups").toInt
    val minPasses = opt("min-passes").toInt
    val work = Files.createDirectories(Paths.get(opt("work")))
    val out = mutable.LinkedHashMap[String, Any]()

    // span ids come from this thread and the listener bus thread
    val spanIds = new java.util.concurrent.atomic.AtomicLong()
    val newId = () => spanIds.incrementAndGet()
    def session(): SparkSession = {
      val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        // Spark's generated-class cache holds 100 classes by default, fewer
        // than one pass of either workload compiles: each class would be
        // evicted before its next use and every timed pass would run janino
        // again. Sized to hold the workload, the warm-up keeps compilation
        // out of the timed passes, and plan.codegen_classes counts only
        // classes that no earlier pass produced.
        .config("spark.sql.codegen.cache.maxEntries", 2000)
        .config("spark.local.dir", work.resolve("spark-local").toString)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.GraftExtensions.register(s)
      s
    }

    // ---- set-up: session, register, warm-up passes; the first checks outputs ----
    val check = mutable.LinkedHashMap[String, Any]()
    val warmup = mutable.ArrayBuffer[(String, Double)]()
    val setupErrors = mutable.ArrayBuffer[String]()
    val t0 = System.nanoTime()
    val spark = session()
    warmup += "session" -> (System.nanoTime() - t0) / 1e9
    val workload = Workloads(workloadName, seed, work)
    for (k <- 0 until warmups) {
      val verify = k == 0
      val ops = workload.pass(spark, opt("data"), -1 - k)
      setupErrors ++= ops.flatMap { op =>
        val o0 = System.nanoTime()
        try {
          graft.sources.CheckpointScope.withScope(spark.sparkContext) {
            val df = op.build(Tracing.off)
            if (verify && op.kind == "query")
              df.coalesce(1).write.mode("overwrite").parquet(work.resolve(s"check/${op.name}").toString)
            else if (op.kind == "lookup")
              check(op.name) = Checks.lookup(workload, op, df)
            else op.sink(df)
            op.after()
          }
          None
        } catch { case e: Throwable => Some(s"${op.name}: ${e.getClass.getSimpleName}: ${e.getMessage}") }
        finally warmup += s"${op.name}#$k" -> (System.nanoTime() - o0) / 1e9
      }
      if (verify) {
        if (workloadName == "ingest") check("ingest") = Checks.ingest(spark, workload)
        else check("oracle") = workload.opNames.map(n => n -> graft.SparkEntry.oracleSql.get(n)).toMap
      }
      workload.endPass()
    }
    out("setup_s") = (System.nanoTime() - t0) / 1e9
    check("errors") = setupErrors.toSeq
    out("warmup") = warmup.map { case (n, s) => Map("name" -> n, "secs" -> s) }
    out("check") = check
    out("op_names") = Workloads.opNames

    // ---- timed passes ----
    val tracer = if (traced) Some(new Tracer(spark, newId)) else None
    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    val start = System.nanoTime()
    var p = 0
    while ((System.nanoTime() - start) / 1e9 < seconds || p < minPasses) {
      val tr = tracer.filter(_ => p % 2 == 1)
      tr.foreach(_.attach())
      val ops = workload.pass(spark, opt("data"), p)
      val passSpan = newId()
      val passStart = System.currentTimeMillis()
      val p0 = System.nanoTime()
      val opRecs = ops.map { op =>
        val opSpan = newId()
        tr.foreach(_.open(opSpan))
        val stages = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
        val tracing = if (tr.isEmpty) Tracing.off else new Tracing {
          def stage(name: String, s: Double): Unit = stages(name) += s
          def enabled = true
        }
        val startMs = System.currentTimeMillis()
        val t0 = System.nanoTime()
        var tBuild, tSink = 0.0
        val err = try {
          graft.sources.CheckpointScope.withScope(spark.sparkContext) {
            val df = op.build(tracing)
            val t1 = System.nanoTime()
            op.sink(df)
            val t2 = System.nanoTime()
            op.after()
            tBuild = (t1 - t0) / 1e9
            tSink = (t2 - t1) / 1e9
          }
          None
        } catch { case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
        val secs = (System.nanoTime() - t0) / 1e9
        val endMs = System.currentTimeMillis()
        val layers = tr.map { t =>
          val c = t.close(startMs, endMs)
          t.spans += Span(opSpan, passSpan, "op", op.name, startMs, endMs)
          c.add("driver.build_s", tBuild)
          if (op.kind == "batch") {
            stages.foreach { case (n, s) => c.add(s"ingest.${n}_s", s) }
            c.add("ingest.record_write_s", tSink)
            c.add("ingest.maintenance_s", secs - tBuild - tSink)
          }
          if (op.kind == "lookup") c.add("ingest.lookup_s", secs)
          c.values.toMap
        }
        Map("name" -> op.name, "kind" -> op.kind, "secs" -> secs,
          "ok" -> err.isEmpty, "error" -> err, "docs" -> op.docs,
          "layers" -> layers)
      }
      val passSecs = (System.nanoTime() - p0) / 1e9
      tr.foreach { t =>
        t.spans += Span(passSpan, 0L, "pass", s"pass $p", passStart, System.currentTimeMillis())
        t.detach()
      }
      workload.endPass()
      passes += Map("traced" -> tr.isDefined, "secs" -> passSecs, "ops" -> opRecs)
      p += 1
    }
    out("passes") = passes.toSeq
    out("peak_rss_mb") = peakRssMb()
    tracer.foreach { t =>
      out("spans") = t.spans.sortBy(_.id).map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> s.endMs))
    }
    spark.stop()
    Files.writeString(Paths.get(opt("out")), Json.render(out))
  }

  /** The process's high-water resident set (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
