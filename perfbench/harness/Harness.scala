package perfbench

import graft.SparkEntry
import graft.model.MappingLoader
import graft.operators.TextPipeline
import graft.run.{Importer, Registry}
import graft.runtime.GraftSession
import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One workload in one JVM: session, untimed warm pass, then timed
  * iterations until `--seconds` have passed. Every call into the program
  * goes through public functions and is timed from outside. With
  * `--trace 1`, iterations alternate untraced and traced; traced ones
  * record spans and Spark listener counts, from which the per-layer
  * figures are derived. Raw results go to `<out>/result.json`; the
  * Python driver checks outputs and reduces them to metrics.
  *
  * Usage: Harness --workload W --seconds S --trace 0|1 --input DIR
  *                --out DIR --work DIR --cores N */
object Harness {

  /** The `suite` workload's queries, each with the module it mostly
    * exercises: a fixed subset of `SparkEntry.queries` with at least one
    * query per module, sized so that one run fits the benchmark's time
    * budget. */
  val SuiteQueries: Seq[(String, String)] = Seq(
    "q1_agg" -> "relational", "q3_top_orders" -> "relational",
    "n3_segments" -> "import", "x3_xml_repeat" -> "import",
    "x_minhash_pairs" -> "dedup", "x_dedup_cluster" -> "dedup",
    "x_ann_ivf_probe" -> "ann", "x_quality" -> "text",
    "x_quality_filter" -> "pipeline")

  /** The query whose call and force give the `operators.*` figures: its
    * connected-components loop is the one the near-duplicate curation
    * pipeline runs. */
  val OperatorsQuery = "x_dedup_cluster"

  final case class Op(name: String, pass: Int, traced: Boolean, seconds: Double,
                      error: Option[String], output: Option[String],
                      jobs: Int = 0, tasks: Int = 0, shuffleBytes: Long = 0)
  final case class Iter(pass: Int, traced: Boolean, seconds: Double,
                        layers: Map[String, Double])

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val (input, out, work, cores) = (a("input"), a("out"), a("work"), a("cores").toInt)

    val spark = GraftSession.builder(s"local[$cores]", cores)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val w: Workload = workload match {
      case "import_bulk" | "import_many" => new ImportWorkload(spark, input, out, work)
      case "suite" => new SuiteWorkload(spark, input, out)
      case other => sys.error(s"unknown workload: $other")
    }
    val tracer = new Tracer
    val ops = ArrayBuffer.empty[Op]
    val iters = ArrayBuffer.empty[Iter]
    val t0 = System.nanoTime()
    ops ++= w.warm(tracer)
    (1 to w.warmIterations).foreach { i =>
      ops ++= w.iteration(tracer, -1 - i, traced = false)._1
      w.afterIteration()
    }
    val warmS = (System.nanoTime() - t0) / 1e9
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

    // Traced runs alternate untraced and traced iterations, so the
    // overhead of tracing is measured on the same JVM, data and warmth.
    val minIters = if (trace) 6 else w.minIterations
    val start = System.nanoTime()
    var pass = 0
    while (pass < minIters || (System.nanoTime() - start) / 1e9 < seconds) {
      val traced = trace && pass % 2 == 1
      val counters = if (traced) Some(new Counters) else None
      counters.foreach(spark.sparkContext.addSparkListener)
      tracer.recording = traced
      tracer.iter = pass
      val before = JvmSample.now()
      val (passOps, wall) = w.iteration(tracer, pass, traced)
      val after = JvmSample.now()
      w.afterIteration()
      tracer.recording = false
      val layers = counters.map { c =>
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(c)
        val mine = tracer.spans.filter(_.iter == pass).toSeq
        val root = mine.find(_.parent == -1).get
        val rootTasks = c.tasksIn(root)
        val top = mine.filter(_.parent == root.id)
        // a failed call leaves spans missing; the run is failed anyway
        val own: Map[String, Double] =
          if (passOps.exists(_.error.isDefined)) Map.empty else w.layers(mine, c)
        own ++ Map(
          "runtime.driver_only_s" -> Layers.driverOnlySeconds(root, rootTasks),
          "runtime.codegen_s" -> (after.codegenNs - before.codegenNs) / 1e9,
          "runtime.gc_s" -> (after.gcMs - before.gcMs) / 1000.0,
          "trace.span_coverage" -> top.map(_.seconds).sum / root.seconds)
      }.getOrElse(Map.empty)
      val withCounts = counters match {
        case Some(c) => passOps.map { o =>
          tracer.spans.find(s => s.iter == pass && s.name == o.name) match {
            case Some(s) =>
              val ts = c.tasksIn(s)
              o.copy(jobs = c.jobsIn(s), tasks = ts.size,
                shuffleBytes = Layers.sum(ts)(_.shuffleWrite))
            case None => o
          }
        }
        case None => passOps
      }
      ops ++= withCounts
      iters += Iter(pass, traced, wall, layers)
      pass += 1
    }

    val json = new StringBuilder("{")
    json ++= s""""workload":"$workload","""
    json ++= s""""session_s":${(sessionReadyMs - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0},"""
    json ++= s""""warm_s":$warmS,"jvm_setup_s":$setupS,"peak_rss_mb":${JvmSample.peakRssMb()},"""
    json ++= "\"ops\":" + ops.map(opJson).mkString("[", ",\n", "]") + ","
    json ++= "\"iterations\":" + iters.map { it =>
      s"""{"pass":${it.pass},"traced":${it.traced},"seconds":${it.seconds},"layers":""" +
        it.layers.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}") + "}"
    }.mkString("[", ",\n", "]") + ","
    json ++= "\"oracles\":" + w.oracles.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${str(v)}""" }.mkString("{", ",\n", "}") + "}"
    write(s"$out/result.json", json.toString)
    if (trace) write(s"$out/spans.json", tracer.json)
    spark.stop()
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  private def opJson(o: Op): String =
    s"""{"name":"${o.name}","pass":${o.pass},"traced":${o.traced},"seconds":${o.seconds},""" +
      s""""error":${o.error.map(str).getOrElse("null")},"output":${o.output.map(str).getOrElse("null")},""" +
      s""""module":"${SuiteQueries.toMap.getOrElse(o.name, "")}","jobs":${o.jobs},"tasks":${o.tasks},"shuffle_bytes":${o.shuffleBytes}}"""

  def write(path: String, s: String): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), s.getBytes(UTF_8))
  }

  def errorText(e: Throwable): String =
    (e.getClass.getName + ": " + String.valueOf(e.getMessage)).take(500)

  def rmrf(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmrf))
    f.delete()
  }
}

/** A workload: its untimed warm pass, one timed iteration, and the layer
  * figures of a traced iteration. */
trait Workload {
  /** Untimed iterations after the warm pass: the first iterations still
    * run well above their steady time. */
  def warmIterations: Int = 2
  /** Untraced iterations a run makes at least, whatever `--seconds` is. */
  def minIterations: Int = 4
  def warm(t: Tracer): Seq[Harness.Op]
  /** The iteration's ops and its wall seconds (its root span). */
  def iteration(t: Tracer, pass: Int, traced: Boolean): (Seq[Harness.Op], Double)
  def afterIteration(): Unit = ()
  def layers(spans: Seq[Span], c: Counters): Map[String, Double]
  def oracles: Map[String, String] = Map.empty
}

/** `import_bulk` / `import_many`: `Importer.mappedTables` over the
  * generated zip, then one parquet write per canonical table. */
final class ImportWorkload(spark: SparkSession, input: String, out: String,
                           work: String) extends Workload {
  private val zip = s"$input/drop.zip"
  private val mappings = MappingLoader.loadTables(
    new String(Files.readAllBytes(Paths.get(s"$input/mapping.yml")), UTF_8))
  private val unzip = new File(s"$work/unzip")

  private def once(t: Tracer, pass: Int, traced: Boolean): Seq[Harness.Op] = {
    unzip.mkdirs()
    val opts = Registry.ContainerOptions(unzipPath = unzip.getAbsolutePath)
    val dest = s"$out/import/pass_$pass"
    val (_, secs) = t.span("import") {
      if (traced) t.span("run.registry")(Registry.files(zip, opts))
      val (tables, _) = t.span("run.mapped_tables")(
        Importer.mappedTables(spark, zip, mappings, opts))
      t.span("sources.delimited_write")(
        tables("registrations").write.mode("overwrite").parquet(s"$dest/registrations"))
      t.span("tabulate.reports_write")(
        tables("reports").write.mode("overwrite").parquet(s"$dest/reports"))
    }
    Seq(Harness.Op("import", pass, traced, secs, None, Some(dest)))
  }

  private def guarded(t: Tracer, pass: Int, traced: Boolean): Seq[Harness.Op] =
    try once(t, pass, traced)
    catch { case e: Exception =>
      Seq(Harness.Op("import", pass, traced, 0.0, Some(Harness.errorText(e)), None))
    }

  def warm(t: Tracer): Seq[Harness.Op] = {
    val r = guarded(t, -1, traced = false)
    afterIteration()
    r
  }
  def iteration(t: Tracer, pass: Int, traced: Boolean): (Seq[Harness.Op], Double) = {
    val ops = guarded(t, pass, traced)
    (ops, ops.map(_.seconds).sum)
  }
  override def afterIteration(): Unit = Harness.rmrf(unzip)

  def layers(spans: Seq[Span], c: Counters): Map[String, Double] = {
    def named(n: String) = spans.find(_.name == n).get
    val registry = named("run.registry")
    val mapped = named("run.mapped_tables")
    val writes = Seq(named("sources.delimited_write"), named("tabulate.reports_write"))
    val wt = writes.flatMap(c.tasksIn)
    Map(
      "run.registry_s" -> registry.seconds,
      "run.plan_s" -> (mapped.seconds - registry.seconds),
      "run.plan_jobs" -> c.jobsIn(mapped).toDouble,
      "sources.delimited_write_s" -> writes(0).seconds,
      "tabulate.reports_write_s" -> writes(1).seconds,
      "runtime.write.first_task_s" -> writes.map(s => Layers.firstTaskSeconds(s, c.tasksIn(s))).sum,
      "runtime.write.tasks" -> wt.size.toDouble,
      "runtime.write.task_cpu_s" -> Layers.sum(wt)(_.cpuNs) / 1e9,
      "runtime.write.task_run_s" -> Layers.sum(wt)(_.runMs) / 1000.0,
      "runtime.write.gc_s" -> Layers.sum(wt)(_.gcMs) / 1000.0,
      "runtime.write.records_out" -> Layers.sum(wt)(_.recordsOut).toDouble,
      "runtime.write.bytes_out" -> Layers.sum(wt)(_.bytesOut).toDouble)
  }
}

/** `suite`: each of [[Harness.SuiteQueries]] called and forced to `noop`
  * over the fixed driver tables; the warm pass writes each result for its
  * oracle check. State a query pins is released after its call, outside
  * its timing. */
final class SuiteWorkload(spark: SparkSession, input: String, out: String)
    extends Workload {
  private val queries = Harness.SuiteQueries.map { case (n, _) => n -> SparkEntry.queries(n) }
  private val modules = Harness.SuiteQueries.toMap
  override def warmIterations: Int = 1
  override def minIterations: Int = 3

  private def release(frame: Option[DataFrame], pinnedBefore: collection.Set[Int]): Unit = {
    frame.foreach(TextPipeline.unpersistPipeline)
    spark.sqlContext.clearCache()
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.keySet -- pinnedBefore).foreach { id =>
      sc.getPersistentRDDs.get(id).foreach(_.unpersist(blocking = false))
    }
  }

  private def calls(t: Tracer, p: Int, traced: Boolean, write: Boolean): Seq[Harness.Op] =
    queries.map { case (name, fn) =>
      val pinned = spark.sparkContext.getPersistentRDDs.keySet
      var frame: Option[DataFrame] = None
      val dest = s"$out/suite/$name"
      try {
        val (_, secs) = t.span(name) {
          val (df, _) = t.span(s"$name.call")(fn(spark, input))
          frame = Some(df)
          t.span(s"$name.force") {
            if (write) df.write.mode("overwrite").parquet(dest)
            else df.write.format("noop").mode("overwrite").save()
          }
        }
        Harness.Op(name, p, traced, secs, None, if (write) Some(dest) else None)
      } catch { case e: Exception =>
        Harness.Op(name, p, traced, 0.0, Some(Harness.errorText(e)), None)
      } finally release(frame, pinned)
    }

  def warm(t: Tracer): Seq[Harness.Op] = calls(t, -1, traced = false, write = true)
  def iteration(t: Tracer, p: Int, traced: Boolean): (Seq[Harness.Op], Double) =
    t.span("pass")(calls(t, p, traced, write = false))

  def layers(spans: Seq[Span], c: Counters): Map[String, Double] = {
    val qs = spans.filter(s => queries.exists(_._1 == s.name))
    val byModule = qs.groupBy(s => modules(s.name)).view.mapValues(_.map(_.seconds).sum)
    val call = spans.find(_.name == s"${Harness.OperatorsQuery}.call").get
    val force = spans.find(_.name == s"${Harness.OperatorsQuery}.force").get
    val ts = c.tasksIn(call) ++ c.tasksIn(force)
    Seq("relational", "import", "dedup", "ann", "text", "pipeline").map { m =>
      s"queries.${m}_s" -> byModule.getOrElse(m, 0.0)
    }.toMap ++ Map(
      "queries.jobs" -> qs.map(c.jobsIn).sum.toDouble,
      "queries.tasks" -> qs.map(s => c.tasksIn(s).size).sum.toDouble,
      "operators.call_s" -> call.seconds,
      "operators.force_s" -> force.seconds,
      "operators.jobs" -> (c.jobsIn(call) + c.jobsIn(force)).toDouble,
      "operators.shuffle_write_bytes" -> Layers.sum(ts)(_.shuffleWrite).toDouble,
      "operators.shuffle_read_bytes" -> Layers.sum(ts)(_.shuffleRead).toDouble,
      "operators.spill_bytes" -> Layers.sum(ts)(_.spill).toDouble,
      "operators.task_cpu_s" -> Layers.sum(ts)(_.cpuNs) / 1e9,
      "operators.max_task_s_over_median" -> Layers.skew(ts))
  }

  override def oracles: Map[String, String] =
    queries.map(_._1).flatMap(n => SparkEntry.oracleSql.get(n).map(n -> _)).toMap
}
