package lambdabench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark program: one workload, one seed, one closed-loop client.
  *
  * {{{
  * Main --workload <name> --inputs <generated dir> --work <scratch dir>
  *      --out <artifact dir> --metrics <BENCHMARK.json> --seconds <n> --trace <0|1>
  * }}}
  *
  * Set-up (session start, then the workload's bootstrap) is timed apart
  * from the measured window. The window runs operations back to back
  * until `--seconds` pass and the workload is at a boundary; each
  * operation's answer is checked against the generator's ground truth.
  * The last stdout line is the result JSON: the end-to-end metrics
  * untraced, the per-layer metrics traced, both as named in the metrics
  * file. Exits 1 if any operation failed.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val name = need("workload")
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = need("work")
    val out = need("out")
    new File(out).mkdirs()
    val declared = MetricsFile.read(need("metrics"))

    val cpus = Runtime.getRuntime.availableProcessors
    val (spark, sessionNanos) = Workload.timed {
      val s = graft.Sessions.base(s"local[$cpus]", cpus.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    phase("session")
    val tracer = new Tracer(spark, traced)
    val ctx = new Ctx(spark, need("inputs"), work, tracer)
    val wl = Workload(name, ctx)
    phase("inputs loaded")
    val bootNanos = Workload.timed(wl.bootstrap(s"$work/boot"))._2
    val setupS = (sessionNanos + bootNanos) / 1e9
    phase("bootstrapped")
    println(f"setup session_s=${sessionNanos / 1e9}%.4f bootstrap_s=${bootNanos / 1e9}%.4f")

    val samples = mutable.ArrayBuffer[Sample]()
    var attempted, failed = 0L
    tracer.start()
    val gc0 = gcMillis()
    val t0 = System.nanoTime()
    val deadline = t0 + (seconds * 1e9).toLong
    while ((System.nanoTime() < deadline || !wl.atBoundary) && wl.hasNext) {
      attempted += 1
      try samples += tracer.operation(name)(wl.step())
      catch {
        case e: Throwable =>
          failed += 1
          System.err.println(s"[lambdabench] operation $attempted failed: $e")
      }
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    phase("measured")
    tracer.stop()
    val gcS = (gcMillis() - gc0) / 1e3
    val rssMb = peakRssMb()

    val e2e = endToEnd(samples.toSeq, setupS, rssMb)
    printNamed(name, samples.toSeq, e2e, attempted, failed)
    val context = Map(
      "canary_cpu_s" -> graft.Canary.cpuSec(),
      "canary_fs_s" -> graft.Canary.fsSec(new File(s"$work/canary")),
      "canary_state_s" -> graft.Canary.stateSec(new File(s"$work/canary")),
      "cores" -> cpus.toDouble, "wall_s" -> wallS,
      "operations" -> samples.size.toDouble)
    println("context " + Json.obj(context.map { case (k, v) => k -> Json.num(v) }))
    write(s"$out/context.json", Json.obj(context.map { case (k, v) => k -> Json.num(v) }))
    write(s"$out/end_to_end.json", metricsJson(e2e, declared.endToEnd))
    write(s"$out/samples.tsv", ("kind\tms\titems" +: samples.map(s =>
      s"${s.kind}\t${s.nanos / 1e6}\t${s.items}")).mkString("\n"))

    val metrics =
      if (!traced) metricsJson(e2e, declared.endToEnd)
      else {
        val layers = Layers.metrics(tracer, wallS, cpus, gcS) ++ wl.layerExtras
        Layers.print(tracer)
        Layers.writeSpans(tracer, s"$out/spans.tsv")
        println(s"spans written to $out/spans.tsv")
        metricsJson(layers, declared.perLayer)
      }
    phase("reported")
    println(Json.obj(Seq(
      "correct" -> (if (failed == 0) "true" else "false"),
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> metrics)))
    spark.stop()
    phase("stopped")
    if (failed > 0) sys.exit(1)
  }

  /** Progress on stderr, in seconds since the JVM started. */
  private def phase(what: String): Unit =
    System.err.println(f"[lambdabench] $what at ${
      ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def endToEnd(samples: Seq[Sample], setupS: Double, rssMb: Double): Map[String, Double] =
    if (samples.isEmpty) Map("setup_s" -> setupS, "rss_peak_mb" -> rssMb)
    else Map(
      "setup_s" -> setupS,
      "op_ms_p50" -> quantile(samples.map(_.nanos / 1e6), 0.5),
      "work_per_s" -> samples.map(_.items).sum / (samples.map(_.nanos).sum / 1e9),
      "rss_peak_mb" -> rssMb)

  /** The workload's metrics under the names a reader of its layers uses
    * (round_ms_p50, fold_ms_p50, ...), each with its sample count. A
    * p90 is printed only with at least 100 samples behind it.
    */
  private def printNamed(workload: String, samples: Seq[Sample],
      e2e: Map[String, Double], attempted: Long, failed: Long): Unit = {
    def line(n: String, v: Double, unit: String, count: Long): Unit =
      println(f"metric $n%-20s $v%14.4f $unit%-4s n=$count")
    line("setup_s", e2e("setup_s"), "s", 1)
    samples.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (kind, ss) =>
      val ms = ss.map(_.nanos / 1e6)
      line(s"${kind}_ms_p50", quantile(ms, 0.5), "ms", ss.size)
      if (ss.size >= 100) line(s"${kind}_ms_p90", quantile(ms, 0.9), "ms", ss.size)
    }
    val rate = workload match {
      case "batch_recompute" => "batch_records_per_s"
      case _ => "fold_rows_per_s"
    }
    e2e.get("work_per_s").foreach(line(rate, _, "1/s", samples.size))
    line("failed_ops_ratio", failed.toDouble / math.max(attempted, 1), "1", attempted)
    line("rss_peak_mb", e2e("rss_peak_mb"), "MB", 1)
  }

  /** `values` restricted to the declared metrics; a declared metric the
    * run did not produce is an error, not a silent omission.
    */
  private def metricsJson(values: Map[String, Double], declared: Seq[(String, String)]): String =
    Json.obj(declared.map { case (n, unit) =>
      val v = values.getOrElse(n, sys.error(s"run produced no value for declared metric $n"))
      n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
    })

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** This JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }

  private def write(path: String, text: String): Unit = {
    val w = new PrintWriter(path)
    try w.println(text) finally w.close()
  }
}

/** The metric names and units declared in BENCHMARK.json. */
final case class MetricsFile(endToEnd: Seq[(String, String)], perLayer: Seq[(String, String)])

object MetricsFile {
  def read(path: String): MetricsFile = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val src = scala.io.Source.fromFile(path)
    val js = try parse(src.mkString) finally src.close()
    def list(key: String) = (js \ key) match {
      case JArray(items) => items.map { m =>
        val JString(n) = m \ "name"
        val JString(u) = m \ "unit"
        n -> u
      }
      case _ => sys.error(s"$path has no $key list")
    }
    MetricsFile(list("end_to_end"), list("per_layer"))
  }
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** A finite number with every digit Java prints for it. */
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"metric value $v is not finite")
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString
  }

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
