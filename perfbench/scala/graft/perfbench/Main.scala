package graft.perfbench

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.SparkSession
import org.apache.spark.graftbench.Bus

/** What a workload run shares: the session, the seed and time budget, the
  * tracer and listener, and what the run reports. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val trace: Tracer, counters: Option[SparkCounters], workDir: String, val dataDir: String) {
  val cores: Int = spark.sparkContext.defaultParallelism
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val observed = mutable.LinkedHashMap.empty[String, Any]
  val problems = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L

  def traced: Boolean = trace.enabled
  def dir(name: String): String = s"$workDir/$name"
  def check(ok: Boolean, what: => String): Unit = if (!ok) problems += what

  /** One timed call into the program inside a span; returns its wall seconds. */
  def timed[T](span: String)(body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = trace(span)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** One client call or query: counted as attempted, and as failed (with
    * the run continuing) when it throws. */
  def op[T](span: String)(body: => T): Option[(T, Double)] = {
    attempted += 1
    try Some(timed(span)(body))
    catch { case NonFatal(e) =>
      failed += 1
      problems += s"$span threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      None
    }
  }

  /** Flush the listener bus, then sum the Spark work inside the spans. */
  def work(spans: Seq[Span]): Work = counters match {
    case Some(c) =>
      Bus.drain(spark.sparkContext)
      spans.map(c.in).foldLeft(Work.zero)(_ + _)
    case None => Work.zero
  }

  /** task time ÷ (wall × cores) over the spans. */
  def coreUtil(spans: Seq[Span], w: Work): Double = {
    val wall = spans.map(_.seconds).sum
    if (wall > 0) w.taskS / (wall * cores) else 0.0
  }
}

trait Workload {
  def run(ctx: Ctx): Unit
}

object Measure {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the 11th
    * largest sample, at percentile 100·(n−10)/n. Needs n ≥ 11. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    require(xs.length >= 11, s"a tail needs at least 11 samples, got ${xs.length}")
    val s = xs.sorted
    (s(s.length - 11), 100.0 * (s.length - 10) / s.length)
  }

  def dirBytesAndFiles(root: String): (Long, Long) = {
    val p = Paths.get(root)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val st = Files.walk(p)
      try {
        val files = st.filter(Files.isRegularFile(_)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        (files.map(Files.size).sum, files.length.toLong)
      } finally st.close()
    }
  }
}

object Host {
  private def procField(file: String, key: String): Option[Long] = try {
    val src = scala.io.Source.fromFile(file)
    try src.getLines().find(_.startsWith(key + ":"))
      .map(_.split("\\s+")(1).toLong) finally src.close()
  } catch { case NonFatal(_) => None }

  def memTotalMb: Long = procField("/proc/meminfo", "MemTotal").map(_ / 1024).getOrElse(0L)

  /** Peak resident set of this JVM (VmHWM), or the peak committed heap
    * where /proc is missing. */
  def peakRssMb: Double = procField("/proc/self/status", "VmHWM").map(_ / 1024.0)
    .getOrElse(Runtime.getRuntime.totalMemory / 1048576.0)

  def block(spark: SparkSession): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "mem_total_mb" -> memTotalMb,
    "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "jdk" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
    "spark" -> spark.version,
    "master" -> spark.sparkContext.master)
}

/** Runs one workload in this JVM and writes what it measured as one JSON
  * object; `run.py` checks it, adds the catalog oracle and prints the result.
  *
  * usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --data DIR --out FILE [--spans FILE] */
object Main {
  val workloads: Map[String, Workload] = Map(
    "scale_crawl" -> ScaleCrawl,
    "seen_kernel" -> SeenKernel,
    "catalog" -> Catalog)

  /** local[nproc], with every file Spark writes kept under `work`. */
  def session(name: String, work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$name")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = opt("workload")
    val workload = workloads.getOrElse(name, sys.error(s"unknown workload $name"))
    val seed = opt("seed").toLong
    val traced = opt("trace") == "1"
    val work = opt("work")
    val spark = session(name, work)
    val counters = if (traced) Some(new SparkCounters) else None
    counters.foreach(Bus.addListener(spark.sparkContext, _))
    val runId = s"$name-s$seed-t${opt("trace")}-${ProcessHandle.current.pid}"
    val ctx = new Ctx(spark, seed, opt("seconds").toDouble, new Tracer(traced, runId),
      counters, work, opt("data"))
    try workload.run(ctx)
    catch { case NonFatal(e) =>
      ctx.attempted += 1
      ctx.failed += 1
      ctx.problems += s"$name aborted: $e"
      e.printStackTrace()
    }
    Bus.drain(spark.sparkContext)
    val dropped = Bus.droppedEvents(spark.sparkContext)
    ctx.e2e("peak_rss_mb") = Host.peakRssMb
    val result = Json.obj(Seq(
      "workload" -> name,
      "seed" -> seed,
      "run_id" -> runId,
      "host" -> Host.block(spark),
      "attempted" -> ctx.attempted,
      "failed" -> ctx.failed,
      "dropped_events" -> dropped,
      "problems" -> ctx.problems.toSeq,
      "end_to_end" -> ctx.e2e.toMap,
      "per_layer" -> ctx.layer.toMap,
      "observed" -> ctx.observed.toMap))
    Files.writeString(Paths.get(opt("out")), result + "\n")
    opt.get("spans").filter(_ => traced).foreach { f =>
      Files.writeString(Paths.get(f), ctx.trace.toJsonLines(counters).mkString("", "\n", "\n"))
    }
    spark.stop()
    sys.exit(0)
  }
}

/** Minimal JSON writer for the result object. */
object Json {
  def obj(kv: Seq[(String, Any)]): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }.sortBy(_._1))
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
