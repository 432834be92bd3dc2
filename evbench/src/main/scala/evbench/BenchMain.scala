package evbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentLinkedQueue, Executors, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GraftExtensions
import graft.core.{Readers, Writers}
import graft.parsers.{OrphanetParser, Pipelines}

/** One pass of one workload in a fresh JVM: set up the session, run
  * every unit once, write a JSON report. Launched by run.py.
  *
  * Usage: BenchMain --workload W --data DIR --out DIR --report FILE
  *                  --tmp DIR --cpus N --seed S --trace 0|1 [--prefix P]
  *
  * Workloads:
  *   evidence_serial  the 26 evidence pipelines one after another
  *   evidence_dag     the same 26 submitted concurrently from N threads
  *   setup            set-up only, no pass: one more set-up sample
  *
  * --prefix stops every unit early, for the traced run's layer ladder:
  *   read   read every input, write each to the noop sink
  *   parse  read, parse, write the evidence DataFrame to the noop sink
  *   write  read, parse, raw K1 sink (`Writers.writeJsonGzSingle`, no contract)
  *   qc     the full unit: read + `Pipelines.runToFile` (the default)
  * --trace 1 records spans (name, parent, start, end, run id) in memory
  * and writes them with the report.
  */
object BenchMain {

  final case class Span(name: String, parent: String, startNs: Long, endNs: Long, run: String)
  final case class UnitResult(name: String, ok: Boolean, wallS: Double, eagerS: Double, error: String)

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanCostNs = new java.util.concurrent.atomic.LongAdder
  @volatile private var tracing = false
  @volatile private var runId = ""
  private val t0Ns = System.nanoTime()

  private def span[T](name: String, parent: String)(body: => T): T =
    if (!tracing) body
    else {
      val s = System.nanoTime()
      try body
      finally {
        val e = System.nanoTime()
        spans.add(Span(name, parent, s - t0Ns, e - t0Ns, runId))
        // What recording cost this thread: the tracing overhead.
        spanCostNs.add(System.nanoTime() - e)
      }
    }

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val cpus = opt("cpus").toInt
    val prefix = opt.getOrElse("prefix", "qc")
    tracing = opt.getOrElse("trace", "0") == "1"
    runId = s"$workload/seed${opt("seed")}/$prefix"

    // --- set-up: JVM start -> session built -> first trivial job done.
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val buildNs = System.nanoTime()
    val spark = span("session.build", "setup") {
      SparkSession.builder()
        .withExtensions(new GraftExtensions())
        .master(s"local[$cpus]")
        .appName(s"evbench-$workload")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", opt("tmp"))
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = secs(buildNs)
    val counters = new Counters
    spark.sparkContext.addSparkListener(counters)
    spark.listenerManager.register(counters)
    val firstNs = System.nanoTime()
    span("session.first_job", "setup")(spark.range(1000).selectExpr("sum(id)").collect())
    val firstJobS = secs(firstNs)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    new File(out).mkdirs()
    val passNs = System.nanoTime()
    val results = span("pass", "") {
      workload match {
        case "evidence_serial" => evidenceUnits(data).map(u => runEvidence(spark, u, data, out, prefix))
        case "evidence_dag" =>
          val pool = Executors.newFixedThreadPool(cpus)
          try {
            val fs = evidenceUnits(data).map(u => pool.submit(() => runEvidence(spark, u, data, out, prefix)))
            fs.map(_.get())
          } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.HOURS) }
        case "setup" => Seq.empty
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    val wallS = secs(passNs)
    org.apache.spark.sql.GraftShim.drainListenerBus(spark)
    val report = Json.obj(
      "cpus" -> Json.num(cpus),
      "spark_version" -> Json.str(spark.version),
      "jvm" -> Json.str(s"${System.getProperty("java.vm.name")} ${System.getProperty("java.runtime.version")}"),
      "setup_s" -> Json.num(setupS),
      "session_build_s" -> Json.num(buildS),
      "session_first_job_s" -> Json.num(firstJobS),
      "wall_s" -> Json.num(wallS),
      "peak_rss_mb" -> Json.num(peakRssMb()),
      "span_cost_s" -> Json.num(spanCostNs.sum / 1e9),
      "contract_writes" -> Json.num(counters.contractWrites.get.toDouble),
      "contract_violations" -> Json.num(counters.contractViolations.get.toDouble),
      "phases" -> Json.numMap(counters.phaseSeconds),
      "units" -> Json.arr(results.map { r =>
        Json.obj(
          "name" -> Json.str(r.name), "ok" -> r.ok.toString,
          // A failed unit gets no time.
          "wall_s" -> (if (r.ok) Json.num(r.wallS) else "null"),
          "eager_s" -> Json.num(r.eagerS), "error" -> Json.str(r.error))
      }),
      "groups" -> Json.obj(counters.snapshot.toSeq.sortBy(_._1).map { case (g, m) => g -> Json.numMap(m) }: _*),
      "spans" -> Json.arr(spans.asScala.toSeq.sortBy(_.startNs).map { s =>
        Json.obj("name" -> Json.str(s.name), "parent" -> Json.str(s.parent),
          "start_s" -> Json.num(s.startNs / 1e9), "end_s" -> Json.num(s.endNs / 1e9),
          "run" -> Json.str(s.run))
      }),
    )
    Files.write(Paths.get(opt("report")), report.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** VmHWM: the process's peak resident set, in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    finally src.close()
  }

  final case class EvidenceUnit(name: String, inputs: Seq[(String, String)])

  /** manifest.tsv: pipeline, input key, path relative to the data dir. */
  def evidenceUnits(data: String): Seq[EvidenceUnit] = {
    val rows = Files.readAllLines(Paths.get(data, "manifest.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t"))
    Pipelines.all.map(p => EvidenceUnit(p.name, rows.filter(_(0) == p.name).map(r => r(1) -> r(2))))
  }

  /** Orphanet ships XML, read by its parser's own reader; every other
    * input goes through the format-detecting `Readers.readPath`.
    */
  private def readInputs(spark: SparkSession, u: EvidenceUnit, data: String): Map[String, DataFrame] =
    u.inputs.map { case (k, rel) =>
      val path = s"$data/$rel"
      k -> (if (rel.endsWith(".xml")) OrphanetParser.readProduct6(spark, path) else Readers.readPath(spark, path))
    }.toMap

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** One unit, attributed to job group "<unit>" ("<unit>|eager" while the
    * readers build their DataFrames, which runs any schema-inference job).
    */
  def runEvidence(spark: SparkSession, u: EvidenceUnit, data: String, out: String, prefix: String): UnitResult = {
    val sc = spark.sparkContext
    val t = System.nanoTime()
    try {
      span(s"unit:${u.name}", "pass") {
        sc.setJobGroup(s"${u.name}|eager", u.name)
        val te = System.nanoTime()
        val in = span("readers", s"unit:${u.name}")(readInputs(spark, u, data))
        val eagerS = secs(te)
        sc.setJobGroup(u.name, u.name)
        lazy val parsed = Pipelines.byName(u.name).run(spark, in)
        span(prefix, s"unit:${u.name}") {
          prefix match {
            case "read" => in.values.foreach(noop)
            case "parse" => noop(parsed)
            case "write" => Writers.writeJsonGzSingle(parsed, s"$out/${u.name}.json.gz", None)
            case "qc" => Pipelines.runToFile(spark, u.name, in, s"$out/${u.name}.json.gz")
          }
        }
        UnitResult(u.name, ok = true, secs(t), eagerS, "")
      }
    } catch {
      case e: Throwable =>
        UnitResult(u.name, ok = false, 0.0, 0.0,
          s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(400))
    } finally sc.clearJobGroup()
  }
}

/** Minimal JSON rendering for the report (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b.append('"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def numMap(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) }: _*)
}
