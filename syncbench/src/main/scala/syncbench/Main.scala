package syncbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` starts it once per run:
  *
  * {{{
  * Main --workload <sync_churn|query_mix|prepare> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --data <dir>
  *      --record <file> --t0 <epoch ms at benchmark start>
  * }}}
  *
  * It drives one workload through the program's public functions with
  * a single closed-loop client and writes a JSON record of every op
  * (plus, when traced, the per-layer counters and the spans) for
  * `run.py` to check and summarize. A thrown op is counted, named and
  * skipped; only a harness error exits non-zero.
  */
object Main {

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, data: String, record: String, t0: Double)

  /** One timed operation. `items` is the work it covered (vendor
    * items synced, rows read); `error` is set when it failed. */
  final case class Op(name: String, kind: String, start: Double, seconds: Double,
      items: Long = 0, error: String = null) {
    def ok: Boolean = error == null
    /** Start and end in epoch ms. */
    def interval: (Double, Double) = (start, start + seconds * 1e3)
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble, kv("trace") == "1",
      kv("work"), kv("data"), kv("record"), kv("t0").toDouble)
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors, "cores" -> cores,
      "jvm" -> System.getProperty("java.vm.version"),
      "load_start" -> loadAvg())
    val spark = session(o)
    rec("spark") = spark.version
    rec("boot_s") = (System.currentTimeMillis() - o.t0) / 1e3
    o.workload match {
      case "sync_churn" => SyncChurn.run(spark, o, rec)
      case "query_mix" => QueryMix.run(spark, o, rec)
      case "prepare" => QueryMix.prepare(spark, o)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    if (o.trace && o.workload != "prepare")
      rec("layers") = rec.getOrElse("layers", Map.empty).asInstanceOf[Map[String, Double]] ++
        FunctionProbe.run(spark)
    rec("load_end") = loadAvg()
    rec("peak_rss_mb") = peakRssMb()
    writeJson(o.record, rec)
    spark.stop()
  }

  /** Spark task slots: half the cores, so the driver thread, the JIT
    * compiler and GC keep cores of their own and an op's latency does
    * not depend on how the OS schedules more runnable threads than
    * cores. The workloads' small jobs leave most slots idle (about a
    * third busy on four), so a run loses little speed by it. */
  val cores: Int = math.max(1, Runtime.getRuntime.availableProcessors / 2)

  /** The benchmark's one session: local[cores] with the repo's
    * extensions and the session settings every graft entry point uses;
    * spill and warehouse directories stay under the work directory. */
  def session(o: Opts): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"syncbench-${o.workload}")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Time `body`, returning its result and elapsed seconds. */
  def timed[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  /** Units (sync rounds, query passes) a run measures: `seconds` over
    * the nominal length of one unit, at least one. It depends on
    * `--seconds` alone, so a run's sample count, and with it the
    * percentile behind latency_tail_s, is the same however fast the
    * program runs. */
  def units(seconds: Double, nominalS: Double): Int =
    math.max(1, math.round(seconds / nominalS).toInt)

  /** Run one op: a throw becomes a failed op carrying its message. */
  def runOp(name: String, kind: String)(body: => Long): Op = {
    val start = System.currentTimeMillis().toDouble
    val s = System.nanoTime()
    try {
      val items = body
      Op(name, kind, start, (System.nanoTime() - s) / 1e9, items)
    } catch {
      case e: Throwable if scala.util.control.NonFatal(e) =>
        Op(name, kind, start, (System.nanoTime() - s) / 1e9,
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
    }
  }

  def opRecord(op: Op): Map[String, Any] =
    Map("name" -> op.name, "kind" -> op.kind, "start" -> op.start, "s" -> op.seconds,
      "items" -> op.items, "error" -> op.error)

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  private def loadAvg(): Seq[Double] =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg")))
      .split(" ").take(3).map(_.toDouble).toSeq).getOrElse(Seq.empty)

  /** Peak resident set (VmHWM) of this process in MiB. */
  def peakRssMb(): Double =
    scala.util.Try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get
    }.getOrElse(0.0)

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Write `value` (maps, sequences, numbers, strings) as JSON to `path`. */
  def writeJson(path: String, value: Any): Unit = json.writeValue(new java.io.File(path), value)

  def deleteTree(path: String): Unit =
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path))

  /** Size and modification time of every data file under `path`, keyed
    * by relative path. */
  def listFiles(path: String): Map[String, (Long, Long)] = {
    val root = new java.io.File(path)
    if (!root.exists()) Map.empty
    else org.apache.commons.io.FileUtils.listFiles(root, null, true).toArray
      .map(_.asInstanceOf[java.io.File])
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(f => root.toPath.relativize(f.toPath).toString -> (f.length, f.lastModified)).toMap
  }
}
