package graftbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.{Settings, SparkEntry}
import graft.pipeline.{MappingDeps, MappingValidator, Translator}
import graft.schema.{DictionaryLoader, MappingYaml}
import graft.sinks.{EsControl, EsPublisher, FsEsClient}
import graft.sources.TubeGraphSource

/** Benchmark harness entry point. Both modes run one pass in a fresh JVM
  * and are driven by `perfbench/run.py`:
  *
  *   - `suite`: builds the session `graft.Verify` builds, runs a list of
  *     `SparkEntry.queries` once each and writes every result as parquet
  *     (as `graft.Verify` does) for the DuckDB oracle check.
  *   - `etl`: one traced ETL pass. It builds the session exactly as
  *     `graft.RunEtl.main` does and makes the same public calls as
  *     `graft.RunEtl.run`, in the same order and with the same arguments,
  *     each wrapped in a span.
  *
  * With tracing, spans and listener counters go into the JSON result file
  * the run writes when it ends. */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.filter(_.startsWith("--")).map { a =>
      val kv = a.stripPrefix("--").split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "true")
    }.toMap
    val positional = args.filterNot(_.startsWith("--")).toSeq
    positional.headOption match {
      case Some("suite") => suite(opts)
      case Some("etl")   => etl(positional.tail, opts)
      case _ =>
        System.err.println("usage: graftbench.Main suite --data=DIR " +
          "--out=DIR --queries=a,b --seed=N --trace=0|1 --result=FILE\n" +
          "       graftbench.Main etl <schema.json> <etlMapping.yaml> " +
          "<dumps> <out> [--force] [--cdc] [--backup] --result=FILE")
        sys.exit(2)
    }
  }

  private def need(opts: Map[String, String], k: String): String =
    opts.getOrElse(k, { System.err.println(s"missing --$k"); sys.exit(2) })

  private def jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Peak resident set of this process so far (VmHWM), in MiB. */
  private def peakRssMb: Double = {
    val f = Paths.get("/proc/self/status")
    if (!Files.exists(f)) -1.0
    else {
      val line = new String(Files.readAllBytes(f), "UTF-8").split("\n")
        .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: -1024 kB")
      line.split("\\s+")(1).toDouble / 1024.0
    }
  }

  private def write(path: String, json: String): Unit =
    Files.write(Paths.get(path), json.getBytes("UTF-8"))

  private def environment(spark: SparkSession): Seq[(String, String)] = Seq(
    "spark_version" -> Json.str(spark.version),
    "java_version" -> Json.str(System.getProperty("java.version")),
    "cores" -> spark.sparkContext.defaultParallelism.toString)

  // ---------------------------------------------------------------- suite

  private def suite(opts: Map[String, String]): Unit = {
    val data = need(opts, "data")
    val out = need(opts, "out")
    val queries = need(opts, "queries").split(",").map(_.trim)
      .filter(_.nonEmpty).toSeq
    val seed = need(opts, "seed").toLong
    val traced = need(opts, "trace") == "1"
    val result = need(opts, "result")
    // reject unknown names before any work: a typo must not silently
    // shrink the workload
    val unknown = queries.filterNot(SparkEntry.queries.contains)
    if (queries.isEmpty || unknown.nonEmpty) {
      System.err.println(s"unknown query name(s): ${unknown.mkString(", ")}")
      sys.exit(2)
    }
    val trace = new Trace(s"suite-$seed")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // the session graft.Verify builds (graft.Bench's is the same, with the
    // UTC time zone coming from its sbt javaOptions)
    val spark = trace.span("spark.session_start") {
      val s = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", cpus)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val env = environment(spark)
    if (traced) {
      trace.attach(spark.sparkContext)
      spark.listenerManager.register(trace)
    }
    val failures = mutable.ArrayBuffer[String]()
    // each query's result is written as parquet, as graft.Verify writes it,
    // for the DuckDB oracle check that follows the pass. The order is fixed:
    // the first query pays the JVM's cold start, so a seeded order would
    // move time between queries from one seed to the next
    trace.span("pass") {
      queries.foreach { q =>
        trace.span(q) {
          try SparkEntry.queries(q)(spark, data)
            .write.mode("overwrite").parquet(s"$out/$q")
          catch {
            case e: Throwable =>
              failures += s"$q: ${e.getClass.getName}: ${e.getMessage}"
          }
        }
        spark.catalog.clearCache()
        // let the listener catch up, so each query's events land before the
        // next query's span opens (outside the query's own span)
        if (traced) trace.drain()
      }
    }
    spark.stop()
    write(s"$out/oracle_sql.json", queries.flatMap { q =>
      SparkEntry.oracleSql.get(q).map(sql => s"${Json.str(q)}: ${Json.str(sql)}")
    }.mkString("{", ", ", "}"))
    val perQuery = queries.map { q =>
      val span = trace.spansNamed(q).head
      q -> Json.obj(Seq("s" -> Json.num(span.seconds)) ++
        (if (traced) counters(trace, span) else Nil))
    }
    val pass = trace.spansNamed("pass").head
    write(result, Json.obj(env ++ Seq(
      "jvm_start_ms" -> jvmStartMs.toString,
      "pass_s" -> Json.num(pass.seconds),
      "session_start_s" -> Json.num(trace.spansNamed("spark.session_start").head.seconds),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "attempted" -> queries.length.toString,
      "failures" -> failures.map(Json.str).mkString("[", ", ", "]"),
      "queries" -> Json.obj(perQuery)) ++
      (if (traced) counters(trace, pass) ++ Seq("trace" -> trace.toJson)
       else Nil)))
  }

  /** The listener counters of a span and its children, as JSON fields. */
  private def counters(trace: Trace, span: Span): Seq[(String, String)] = {
    val c = trace.total(span)
    Seq("jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "tasks" -> c.tasks.toString,
      "checkpoint_jobs" -> c.checkpointJobs.toString,
      "driver_gap_s" -> Json.num(trace.driverGapS(span)),
      "busy_s" -> Json.num(trace.busyMs(span) / 1e3),
      "plan_s" -> Json.num(c.planMs / 1e3),
      "run_s" -> Json.num(c.runMs / 1e3),
      "gc_s" -> Json.num(c.gcMs / 1e3),
      "shuffle_write_bytes" -> c.shuffleWrite.toString,
      "shuffle_read_bytes" -> c.shuffleRead.toString,
      "fetch_wait_s" -> Json.num(c.fetchWaitMs / 1e3),
      "spill_bytes" -> c.spill.toString,
      "in_bytes" -> c.inBytes.toString,
      "in_rows" -> c.inRows.toString)
  }

  // ------------------------------------------------------------------ etl

  private def etl(positional: Seq[String], opts: Map[String, String]): Unit = {
    val Seq(schemaPath, mappingPath, dumpsDir, outDir) = positional.take(4)
    val force = opts.contains("force")
    val backup = opts.contains("backup")
    val cdc = opts.contains("cdc")
    val result = need(opts, "result")
    val trace = new Trace(s"etl-${java.util.UUID.randomUUID()}")

    // the session graft.RunEtl.main builds
    val spark = trace.span("spark.session_start") {
      val tuning = Settings.sparkTuning(sys.env)
      val builder = SparkSession.builder()
        .master(tuning.master)
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        .appName("graft-etl")
      tuning.executorMemory.foreach(builder.config("spark.executor.memory", _))
      tuning.driverMemory.foreach(builder.config("spark.driver.memory", _))
      val s = builder.getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    val env = environment(spark)
    trace.attach(spark.sparkContext)
    spark.listenerManager.register(trace)
    val published = mutable.ArrayBuffer[(String, String, Long)]()
    val gate = "pipeline.gate"
    try {
      trace.span("pass") {
        val cdcSignal =
          if (!cdc) None
          else Some(trace.span(gate) {
            MappingDeps.dumpTableTimes(dumpsDir,
              spark.sparkContext.hadoopConfiguration)
          } + (MappingDeps.ConfigKey -> Seq(schemaPath, mappingPath)
            .map(p => new java.io.File(p).lastModified()).max))
        // RunEtl.run, call for call
        val nowMillis = System.currentTimeMillis()
        val schema = trace.span("schema.load") {
          DictionaryLoader.loadFile(schemaPath)
        }
        val mappingYaml = new String(
          Files.readAllBytes(Paths.get(mappingPath)), "UTF-8")
        val mapping = trace.span("schema.load") {
          DictionaryLoader.resolveMapping(schema, MappingYaml.parse(mappingYaml))
        }
        trace.span("schema.load") {
          MappingValidator.validateOrThrow(schema, mapping)
        }
        val client = new FsEsClient(Paths.get(outDir))
        val toRun = mapping.indices.flatMap { m =>
          val sourceTx = cdcSignal match {
            case Some(byTable) => trace.span(gate) {
              MappingDeps.latestTxMillis(
                MappingDeps.tables(schema, mapping, m), byTable)
            }
            case None => None
          }
          if (EsControl.needsRun(sourceTx, client.timestamp(m.name), force))
            Some(m -> sourceTx.getOrElse(nowMillis))
          else None
        }
        if (toRun.nonEmpty) {
          val needed = trace.span(gate) {
            MappingDeps.producerClosure(mapping, toRun.map(_._1.name).toSet)
          }
          val source = trace.span("sources.open") {
            TubeGraphSource(spark, schema, dumpsDir)
          }
          val docs = trace.span("pipeline.translate") {
            Translator.runAll(schema, source,
              mapping.copy(indices = mapping.indices.filter(i => needed(i.name))),
              None)
          }
          toRun.foreach { case (m, stamp) =>
            if (backup) trace.span("sinks.backup") {
              EsControl.backup(client, m.name)
            }
            val (index, rows) = trace.span(s"sinks.publish.${m.name}") {
              EsPublisher.publishCounted(
                client, m.name, docs(m.name), m.docType, stamp)
            }
            published += ((m.name, index, rows))
          }
        }
      }
      trace.drain()
    } finally spark.stop()

    val pass = trace.spansNamed("pass").head
    def spanS(name: String): Double = trace.spansNamed(name).map(_.seconds).sum
    val publishS = published.toSeq.map { case (alias, _, _) =>
      alias -> Json.num(spanS(s"sinks.publish.$alias"))
    }
    write(result, Json.obj(env ++ Seq(
      "jvm_start_ms" -> jvmStartMs.toString,
      "pass_s" -> Json.num(pass.seconds),
      "session_start_s" -> Json.num(spanS("spark.session_start")),
      "schema_load_s" -> Json.num(spanS("schema.load")),
      "gate_s" -> Json.num(spanS(gate)),
      "translate_s" -> Json.num(spanS("pipeline.translate")),
      "backup_s" -> Json.num(spanS("sinks.backup")),
      "publish_s" -> Json.obj(publishS),
      "published" -> Json.obj(published.toSeq.map { case (a, i, n) =>
        a -> Json.obj(Seq("index" -> Json.str(i), "rows" -> n.toString))
      }),
      "peak_rss_mb" -> Json.num(peakRssMb),
      "trace" -> trace.toJson) ++ counters(trace, pass)))
  }
}
