package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import org.apache.spark.perfbench.Bus

import graft.core.{Sessions, Tables}
import graft.etl.{HourlyAggregate, JobRunner, JobSpec, MetadataBypass, PartitionPaths,
  SchemaDefs, SchemaEnforce}
import graft.queries.QueryRegistry

/** Benchmark program, one workload per JVM. Runs the workload's operations
  * from this single thread (a closed loop: the next operation starts when
  * the last returns), records every timing, and writes one JSON document
  * of raw measurements for `perfbench/run.py`, which checks the outputs
  * and derives the metrics.
  *
  * Usage: `perfbench.Main key=value...` with keys `workload`, `seed`,
  * `seconds`, `trace` (0|1), `sf`, `fixture`, `work`, `check`, `out`,
  * `cores`, `warmup`, `minPasses`. */
object Main {

  final case class Op(kind: String, pass: Int, seconds: Double, error: Option[String],
      extra: Map[String, Any] = Map.empty)

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val jvmToMain = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val bench = new Bench(a)
    val result = try bench.run() finally bench.stop()
    val doc = result ++ Map("jvm_to_main_s" -> jvmToMain, "peak_rss_mb" -> Host.peakRssMb())
    Files.writeString(Paths.get(a("out")), Json(doc))
  }
}

final class Bench(a: Map[String, String]) {
  import Main.Op

  private val workload = a("workload")
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val trace = a("trace") == "1"
  private val cores = a("cores").toInt
  private val sf = a.getOrElse("sf", "")
  private val work = Paths.get(a("work"))
  private val checkDir = Paths.get(a("check"))
  private val warmup = a("warmup").toInt
  private val minPasses = a("minPasses").toInt

  private val t0 = System.nanoTime()
  val spark: SparkSession = Sessions.local(cores.toString, appName = s"perfbench-$workload")
  private val sessionStart = (System.nanoTime() - t0) / 1e9
  private val groups = new GroupSums
  /** True while the listener is attached: a traced run's timed passes and
    * module probes. */
  private var tracing = false

  private val ops = ArrayBuffer.empty[Op]
  private val passes = ArrayBuffer.empty[Map[String, Any]]
  private val traceOut = scala.collection.mutable.LinkedHashMap.empty[String, Any]

  def stop(): Unit = spark.stop()

  private def secs[T](f: => T): (T, Double) = {
    val s = System.nanoTime()
    val v = f
    (v, (System.nanoTime() - s) / 1e9)
  }

  /** Run `f` under Spark job group `g` when tracing; otherwise plainly. */
  private def grouped[T](g: String)(f: => T): T =
    if (!tracing) f
    else {
      val sc = spark.sparkContext
      sc.setJobGroup(g, g)
      val s = System.nanoTime()
      try f
      finally {
        groups.addWall(g, (System.nanoTime() - s) / 1e9)
        sc.clearJobGroup()
      }
    }

  private def timedOp(kind: String, pass: Int, group: String)(
      f: => Map[String, Any]): Unit = {
    val s = System.nanoTime()
    val op = try {
      val extra = grouped(group)(f)
      Op(kind, pass, (System.nanoTime() - s) / 1e9, None, extra)
    } catch {
      case e: Throwable =>
        Op(kind, pass, (System.nanoTime() - s) / 1e9,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}".take(400)))
    }
    ops += op
  }

  private def setTracing(on: Boolean): Unit = {
    if (on) spark.sparkContext.addSparkListener(groups)
    else spark.sparkContext.removeSparkListener(groups)
    tracing = on
  }

  /** `warmup` untimed warm-up passes (index -1, -2, ...; the first one
    * writes the answers the check reads), then timed passes (index >= 1)
    * until `seconds` of timed work and at least `minPasses` passes are done.
    * The warm-up count is fixed, so every run's timed passes sit at the same
    * point of the JIT's warm-up. A traced run also times one pass untraced
    * (index 0) before and one after the traced passes; their mean is the
    * baseline of the tracing overhead, free of the warm-up trend. Host load
    * is sampled around each timed pass. */
  private def loop(setupParts: Map[String, Double])(pass: Int => Unit): Map[String, Any] = {
    val (warmTimes, warm) = secs((1 to warmup).map(i => secs(pass(-i))._2))
    val untraced = ArrayBuffer.empty[Double]
    if (trace) {
      untraced += secs(pass(0))._2
      setTracing(true)
    }
    val start = System.nanoTime()
    var p = 1
    while (p <= minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val h0 = Host.sample()
      val (_, s) = secs(pass(p))
      val h1 = Host.sample()
      passes += Map("pass" -> p, "seconds" -> s) ++ Host.between(h0, h1)
      p += 1
    }
    if (trace) {
      setTracing(false)
      untraced += secs(pass(0))._2
      setTracing(true)
    }
    Map("setup" -> (setupParts ++ Map("warmup_s" -> warm)),
      "warmup_passes" -> warmTimes.toSeq,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "pass" -> o.pass, "seconds" -> o.seconds,
        "error" -> o.error.orNull) ++ o.extra).toSeq,
      "passes" -> passes.toSeq,
      "untraced_pass_s" -> (if (untraced.isEmpty) null else untraced.sum / untraced.length))
  }

  def run(): Map[String, Any] = {
    val body = workload match {
      case "etl_hourly" => etlHourly()
      case "sql_suite" => sqlSuite()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (trace) {
      Bus.drain(spark.sparkContext)
      traceOut("groups") = groups.snapshot()
    }
    body ++ Map("trace" -> traceOut.toMap)
  }

  // ---------------------------------------------------------------- etl

  private def etlHourly(): Map[String, Any] = {
    val fixture = a("fixture")
    val spec = JobSpec("comstock_amy2018_release_1", "2024", "AK", Seq(0, 1),
      srcRoot = s"$fixture/src", metadataRoot = s"$fixture/metadata",
      declaredSchema = Some(SchemaDefs.timeseriesSchema))
    // table resolution for this workload: the requested partitions' listing
    val (_, tablesLoad) = secs(spark.read.option("basePath", spec.srcRoot)
      .schema(SchemaDefs.timeseriesSchema)
      .parquet(spec.upgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=AK"): _*).schema)

    def onePass(p: Int): Unit = {
      val runId = if (p < 0) s"warm${-p}" else s"run$p"
      var res: JobRunner.Result = null
      timedOp("etl_job", p, "etl.job") {
        res = JobRunner.run(spark, spec, work.toString, runId)
        val l = res.ledger
        Map("ledger" -> Map("listed" -> l.listed, "processed" -> l.processed,
          "bypassed" -> l.bypassed, "input_rows" -> l.inputRows,
          "output_rows" -> l.outputRows, "discrepancies" -> l.discrepancies,
          "schema_drift" -> l.schemaDrift.map(d => Map("file" -> d.path,
            "missing" -> d.missing, "extra" -> d.extra,
            "type_mismatch" -> d.typeMismatch))),
          "data_out" -> res.dataOut, "metadata_out" -> res.metadataOut)
      }
      if (res != null) {
        traceOut("output_files") = countFiles(Paths.get(res.dataOut), ".parquet")
        val bindings = Map("metadata_table" -> s"meta_$runId", "data_table" -> s"data_$runId")
        grouped("saved") {
          spark.read.parquet(res.metadataOut).createOrReplaceTempView(s"meta_$runId")
          spark.read.parquet(res.dataOut).createOrReplaceTempView(s"data_$runId")
        }
        for (_ <- 1 to Bench.SavedRepeats; q <- QueryRegistry.savedQueries) {
          timedOp(s"saved:${q.snakeName}", p, "saved") {
            val (df, build) = secs(QueryRegistry.run(spark, q.snakeName, bindings))
            val (_, plan) = secs(df.queryExecution.executedPlan)
            val (rows, exec) = secs(df.collect())
            Map("answer" -> rows.map(_.toSeq.map(v => String.valueOf(v))).toSeq
              .map(_.mkString("|")).sorted,
              "build_s" -> build, "plan_s" -> plan, "exec_s" -> exec)
          }
        }
        spark.catalog.dropTempView(s"meta_$runId")
        spark.catalog.dropTempView(s"data_$runId")
      }
      // the first warm-up run's output stays for the DuckDB check; every
      // other run's output is deleted as soon as its pass ends
      if (p != -1) deleteTree(work.resolve(runId))
    }

    val body = loop(Map("session_start_s" -> sessionStart, "tables_load_s" -> tablesLoad))(onePass)
    if (trace) etlLayers(spec)
    body ++ Map("saved_sql" -> QueryRegistry.savedQueries.map(q => q.snakeName -> q.sql).toMap)
  }

  /** Per-module timings of the stages `JobRunner.run` composes, each run
    * standalone on the same inputs. */
  private def etlLayers(spec: JobSpec): Unit = {
    val fs = new org.apache.hadoop.fs.Path(spec.srcRoot)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val partDirs = spec.upgrades.map(u => s"${spec.srcRoot}/upgrade=$u/state=${spec.state}")
    val files = partDirs.flatMap { d =>
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(d), true)
      val buf = ArrayBuffer.empty[(String, Long)]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath.toString -> f.getLen
      }
      buf
    }
    traceOut("requested_bytes") = files.map(_._2).sum
    def input(): DataFrame = spark.read.option("basePath", spec.srcRoot)
      .option("ignoreCorruptFiles", "true").schema(SchemaDefs.timeseriesSchema)
      .parquet(partDirs: _*)
    def agg(): DataFrame = HourlyAggregate(input(), measureCols = SchemaDefs.energyColumns,
      extraKeys = Seq("upgrade", "state"))
    val probes: Seq[(String, () => Unit)] = Seq(
      "etl.aggregate_noop" -> (() => agg().write.format("noop").mode("overwrite").save()),
      "etl.aggregate_write" -> (() => {
        val out = work.resolve("layer_write")
        agg().write.mode("overwrite").option("compression", "snappy")
          .partitionBy("upgrade", "state").parquet(out.toString)
        deleteTree(out)
      }),
      "etl.schema_detect" -> (() =>
        SchemaEnforce.detect(spark, files.map(_._1), SchemaDefs.timeseriesSchema)),
      "etl.bypass" -> (() => {
        val out = work.resolve("layer_bypass")
        MetadataBypass.copyAll(spark.sparkContext.hadoopConfiguration,
          spec.upgrades.flatMap(u => PartitionPaths.metadataKeys(spec.metadataRoot, u, spec.state)),
          out.toString)
        deleteTree(out)
      }))
    traceOut("layers") = layerTimes(probes)
  }

  /** Each probe timed once under its own job group, after the workload's
    * passes have warmed the same code. */
  private def layerTimes(probes: Seq[(String, () => Unit)]): Map[String, Double] =
    probes.map { case (name, f) => name -> secs(grouped(name)(f()))._2 }.toMap

  // ---------------------------------------------------------------- sql

  private def loadTables(): Double =
    secs(Tables.all.foreach(t => Tables.load(spark, sf, t).schema))._2

  private def sqlSuite(): Map[String, Any] = {
    val tablesLoad = loadTables()
    val names = Bench.SqlRows ++ Bench.ExtRows
    val rnd = new scala.util.Random(seed)
    def onePass(p: Int): Unit = {
      val order = if (p < 0) names else rnd.shuffle(names)
      order.foreach { n =>
        timedOp(n, p, if (Bench.ExtRows.contains(n)) "ext" else "queries") {
          if (p == -1) { dump(n); Map.empty[String, Any] }
          else if (n == "etl_slice") {
            // timed as its snappy write, the way graft.Bench times it
            val out = work.resolve(s"etl_slice_$p")
            HourlyAggregate(Tables.load(spark, sf, "events"), timeCol = "ts",
              idCol = "user_id", measureCols = Seq("value"), byId = true)
              .write.mode("overwrite").option("compression", "snappy").parquet(out.toString)
            deleteTree(out)
            Map.empty[String, Any]
          } else phases(graft.SparkEntry.queries(n)(spark, sf))
        }
      }
    }
    val body = loop(Map("session_start_s" -> sessionStart, "tables_load_s" -> tablesLoad))(onePass)
    if (trace) extLayers()
    body ++ oracle(names)
  }

  private def oracle(names: Seq[String]): Map[String, Any] =
    Map("oracle_sql" -> names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)

  /** Build → plan → execute through the noop sink; the phase split is
    * recorded only when tracing (forcing the plan early is otherwise
    * skipped so the untraced path is the plain call). */
  private def phases(build: => DataFrame): Map[String, Any] =
    if (!tracing) {
      build.write.format("noop").mode("overwrite").save()
      Map.empty
    } else {
      val (df, b) = secs(build)
      val (_, p) = secs(df.queryExecution.executedPlan)
      val (_, e) = secs(df.write.format("noop").mode("overwrite").save())
      Map("build_s" -> b, "plan_s" -> p, "exec_s" -> e)
    }

  /** Write one query's answer for the DuckDB check (untimed warm-up). */
  private def dump(name: String): Unit =
    graft.SparkEntry.queries(name)(spark, sf).coalesce(1).write.mode("overwrite")
      .parquet(checkDir.resolve(name).toString)

  /** The `ext` kernels the corpus flagships compose (`x0_pipeline` and the
    * others), each alone on a checkpointed `documents` table into the noop
    * sink. */
  private def extLayers(): Unit = {
    import graft.ext._
    val docs = Tables.load(spark, sf, "documents").localCheckpoint(true)
    def noop(df: => DataFrame): () => Unit =
      () => df.write.format("noop").mode("overwrite").save()
    traceOut("layers") = layerTimes(Seq(
      "ext.exact_dedup" -> noop(Dedup.exactByContent(docs, "text", "doc_id")),
      "ext.near_dedup" -> noop(Dedup.dedupNear(docs, "doc_id", "text",
        Dedup.MinHashParams(threshold = 1.0))),
      "ext.line_dedup" -> noop(LineDedup.dedupLines(docs, "doc_id", "text", 100L)),
      "ext.span_dedup" -> noop(SpanDedup.dedupSpans(docs, "doc_id", "text", k = 8)),
      "ext.lm_score" -> noop(NgramLm.selfScore(docs, "doc_id", "text")),
      "ext.simhash_pairs" -> noop(SimHash.nearDupPairs(docs, "doc_id", "text"))))
  }

  // ------------------------------------------------------------ helpers

  private def countFiles(dir: Path, suffix: String): Long =
    if (!Files.exists(dir)) 0L
    else {
      val st = Files.walk(dir)
      try st.filter(p => p.getFileName.toString.endsWith(suffix)).count()
      finally st.close()
    }

  private def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val st = Files.walk(dir)
      try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
      finally st.close()
    }
}

object Bench {
  /** Rounds of the three saved queries after each `JobRunner.run`: a single
    * timing of a 0.3 s query moved by a third between runs. */
  val SavedRepeats = 3

  /** The `Queries.queries` rows of a `sql_suite` pass: the row closest to
    * each latency quintile of a full warm pass over all 87 rows at local[4]
    * (README.md, "The SQL row sample"), plus `etl_slice`, the suite's one
    * write-path row. */
  val SqlRows: Seq[String] =
    Seq("q71_width_bucket", "q26_conditional_agg", "q04_group_distinct", "q15_lag_window",
      "etl_slice")

  /** The `ext` kernel rows of a `sql_suite` pass: the line-dedup and
    * span-dedup kernels of the text flagship `x0_pipeline`. */
  val ExtRows: Seq[String] = Seq("x36_line_dedup", "x37_span_dedup")
}
