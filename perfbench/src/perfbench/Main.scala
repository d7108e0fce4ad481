package perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: runs one workload and writes its raw
  * result as JSON. `perfbench/run.py` builds the program, generates the
  * inputs, starts this and prints the final result line.
  *
  * Args: workload seed seconds trace(0|1) dataDir workDir outJson
  */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, dataDir, workDir, out) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalogImplementation", "in-memory")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.local.dir", s"$workDir/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val tracer = new Tracer(spark.sparkContext)
    val ctx = Ctx(spark, tracer, seed, dataDir, workDir, cores)
    val w: Workload = workload match {
      case "serve_mixed"    => new Serve(ctx)
      case "ingest_compact" => new Ingest(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: session start, the table build (several times, median)
    // and the untimed warm pass
    val buildS = (0 until BuildReps).map { rep =>
      val t0 = System.nanoTime(); w.build(rep); (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = sessionS + Samples.median(buildS) + warmS

    val jvm = new JvmWatch
    val plain = w.measure(seconds)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    val extra = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var attempted = plain.attempted
    var failed = plain.failed
    var notes = plain.notes.toSeq

    if (!trace) {
      metrics("setup_s") = (setupS, "s")
      metrics("throughput_per_s") = (plain.units / plain.wallS, "1/s")
      metrics("bulk_s") = (Samples.median(plain.bulkS.toSeq), "s")
    } else {
      val counters = new EngineCounters
      spark.sparkContext.addSparkListener(counters)
      tracer.enabled = true
      val wall0 = System.nanoTime()
      jvm.start()
      val traced = w.measure(seconds)
      val wallMs = (System.nanoTime() - wall0) / 1e6
      tracer.enabled = false
      org.apache.spark.PerfbenchShim.drain(spark.sparkContext)
      attempted += traced.attempted
      failed += traced.failed
      notes ++= traced.notes
      Layers.derive(tracer, counters, traced, plain, wallMs, cores, jvm)
        .foreach { case (k, v) => metrics(k) = v }
      val spanFile = java.nio.file.Paths.get(s"$workDir/spans.jsonl")
      tracer.writeJsonl(spanFile)
      extra("spans") = Json.str(spanFile.toString)
      extra("self_ms_by_span") = Layers.selfTable(tracer)
    }

    extra("setup_parts_s") = Seq("session" -> sessionS, "build_median" -> Samples.median(buildS),
      "warm" -> warmS).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    extra("samples") = plain.ops.n.toString
    extra("counts") = plain.counts.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }
      .mkString("{", ",", "}")
    extra("facts") = w.facts.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
      .mkString("{", ",", "}")
    extra("jvm_max_heap_mb") = (Runtime.getRuntime.maxMemory / 1048576).toString
    extra("spark_version") = Json.str(spark.version)
    extra("cores") = cores.toString
    extra("notes") = notes.map(Json.str).mkString("[", ",", "]")

    val json = new StringBuilder("{")
    json ++= s""""attempted":$attempted,"failed":$failed,"metrics":{"""
    json ++= metrics.map { case (k, (v, u)) =>
      s"""${Json.str(k)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    json ++= "}"
    extra.foreach { case (k, v) => json ++= s",${Json.str(k)}:$v" }
    json ++= "}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), json.toString)
    spark.stop()
  }

  val BuildReps = 3
}

/** Per-layer metrics of a traced phase, derived from the spans the
  * benchmark recorded around its calls and the engine counters charged
  * to them. A layer a workload does not exercise reads 0. */
object Layers {
  /** Which layer a span's self time belongs to. */
  def layerOf(name: String): String = name match {
    case "open_table" | "read_plan" | "put" => "graft"
    case n if n.startsWith("resolve.") => "resolve"
    case n if n.startsWith("scan.") => "scan"
    case "compact" => "store"
    case "percolator" | "txn" => "txn"
    case _ => "bench"
  }
  val SelfLayers = Seq("graft", "resolve", "scan", "store", "txn", "bench")

  def derive(tr: Tracer, ec: EngineCounters, ph: Phase, plain: Phase,
      wallMs: Double, cores: Int, jvm: JvmWatch): Seq[(String, (Double, String))] = {
    val byName = tr.spans.groupBy(_.name)
    def ids(pred: String => Boolean) = tr.spans.filter(s => pred(s.name)).map(_.id)
    def med(name: String): Double =
      byName.get(name).fold(0.0)(ss => Samples.median(ss.map(_.durMs).toSeq))
    def meanOver(name: String)(f: Counts => Double): Double =
      byName.get(name).fold(0.0) { ss =>
        ss.map(s => f(ec.total(Seq(s.id)))).sum / ss.size
      }
    val roots = tr.spans.filter(_.parent == 0)
    val nOps = math.max(1, roots.size)
    // jobs outside any span (the correctness checks) are not charged
    val all = ec.total(tr.spans.map(_.id))
    val scanExec = ec.total(ids(_ == "scan.exec"))
    val selfMs = tr.selfMs
    val selfByLayer = tr.spans.groupBy(s => layerOf(s.name))
      .view.mapValues(_.map(s => selfMs(s.id)).sum).toMap
    val count = (k: String) => ph.counts.getOrElse(k, 0.0)
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    Seq(
      // op latency percentiles of the untraced phase: they do not hold
      // within the end-to-end bounds from run to run
      "p50_ms" -> (plain.ops.pct(50), "ms"),
      "p90_ms" -> (plain.ops.pct(90), "ms"),
      "open_table_ms" -> (med("open_table"), "ms"),
      "read_plan_ms" -> (med("read_plan"), "ms"),
      "log_files" -> (count("log_files"), "count"),
      "put.files_written" -> (ratio(count("files_written"), count("puts")), "count"),
      "resolve.plan_ms" -> (med("resolve.plan"), "ms"),
      "resolve.probe_jobs" -> (meanOver("resolve.plan")(_.jobs.toDouble), "count"),
      "resolve.shuffle_bytes" -> (meanOver("resolve.exec")(_.shuffleWriteBytes.toDouble), "bytes"),
      "scan.plan_ms" -> (med("scan.plan"), "ms"),
      "scan.exec_ms" -> (med("scan.exec"), "ms"),
      "scan.rows_read_per_row_returned" ->
        (ratio(scanExec.recordsRead.toDouble, count("scan_rows_returned")), "ratio"),
      "compact.bytes_rewritten" -> (count("compact.bytes_rewritten"), "bytes"),
      "compact.files_in" -> (count("compact.files_in"), "count"),
      "compact.files_out" -> (count("compact.files_out"), "count"),
      "stored_bytes_per_user_byte" -> (count("stored_bytes_per_user_byte"), "ratio"),
      "jobs" -> (all.jobs.toDouble / nOps, "count"),
      "stages" -> (all.stages.toDouble / nOps, "count"),
      "tasks" -> (all.tasks.toDouble / nOps, "count"),
      "shuffle_bytes" -> (all.shuffleWriteBytes.toDouble / nOps, "bytes"),
      "input_bytes" -> (all.inputBytes.toDouble / nOps, "bytes"),
      "spill_bytes" -> (all.spillBytes.toDouble / nOps, "bytes"),
      "executor_cpu_ms" -> (all.cpuNs / 1e6 / nOps, "ms"),
      "task_busy_frac" -> (all.runMs / (wallMs * cores), "ratio"),
      "gc_ms" -> (jvm.gcSinceStartMs.toDouble, "ms"),
      "heap_used_peak_mb" -> (jvm.heapPeakMb, "MB"),
      "trace_overhead_pct" -> (100 * (ph.ops.pct(50) / plain.ops.pct(50) - 1), "%")
    ) ++ SelfLayers.map(l => s"self.${l}_ms" -> (selfByLayer.getOrElse(l, 0.0) / nOps, "ms"))
  }

  /** Self time per span name, summed, as a JSON object. */
  def selfTable(tr: Tracer): String = {
    val selfMs = tr.selfMs
    tr.spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      s"""${Json.str(n)}:{"n":${ss.size},"self_ms":${Json.num(ss.map(s => selfMs(s.id)).sum)},""" +
        s""""total_ms":${Json.num(ss.map(_.durMs).sum)}}"""
    }.mkString("{", ",", "}")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
