package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Options passed by `run.py`: the generated inputs live in `data`, the run
  * writes layouts and outputs under `work`. */
final case class Opts(workload: String, data: String, work: String,
                      seconds: Double, trace: Boolean, cpus: String,
                      setupReps: Int)

/** Counts attempted and failed public calls; a failed call is logged and
  * the run goes on, so the result reports it instead of dying. */
final class Ops {
  var attempted = 0L
  var failed = 0L
  def apply[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"perfbench: $what failed: $e")
        e.printStackTrace(System.err)
        None
    }
  }
}

/** What a workload hands back: its metrics for the run's mode (end-to-end
  * when untraced, per-layer when traced) and the call counts. */
final case class Outcome(metrics: Map[String, Double], ops: Ops, opSamples: Int = 0)

object Probe {
  def nowS: Double = System.nanoTime() / 1e9

  def time[T](body: => T): (T, Double) = {
    val s = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - s) / 1e9)
  }

  /** Process user+sys CPU seconds. */
  def cpuS: Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Peak resident set size of this JVM, in MB (VmHWM). */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Memory the run holds, in MB: the peak resident set minus the
    * committed heap, which is fixed and pre-touched and so resident from
    * the start, plus the heap still live after a full collection at the
    * end of the work. Any heap reading taken without a full collection
    * moves with when the collector last ran. */
  def memMb: Double = {
    System.gc()
    val heap = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
    val mb = 1024.0 * 1024.0
    val outsideHeap = peakRssMb - heap.getCommitted / mb
    System.err.println(s"perfbench: peak MB outside the heap $outsideHeap, " +
      s"live heap MB ${heap.getUsed / mb}")
    outsideHeap + heap.getUsed / mb
  }

  /** Seconds from JVM start to now. */
  def uptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def median(xs: Iterable[Double]): Double = percentile(xs, 50)

  /** Linear-interpolated percentile; 0 for no samples. */
  def percentile(xs: Iterable[Double], p: Double): Double = {
    val v = xs.toArray.sorted
    if (v.isEmpty) 0.0
    else {
      val r = (v.length - 1) * p / 100.0
      val lo = math.floor(r).toInt
      val hi = math.min(lo + 1, v.length - 1)
      v(lo) + (v(hi) - v(lo)) * (r - lo)
    }
  }

  /** Data files (no checksums or markers) under a directory. */
  def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    walk(new java.io.File(dir))
  }

  def deleteTree(dir: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete()
    }
    rm(new java.io.File(dir))
  }

  def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val paths = java.nio.file.Files.walk(src)
    try paths.forEach { p =>
      val q = dst.resolve(src.relativize(p))
      if (java.nio.file.Files.isDirectory(p)) java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally paths.close()
  }

  def readFile(path: String): String =
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")

  /** RFC 4180 quoting, as the engine writes its result CSVs. */
  def csvField(v: Any): String = v match {
    case null => ""
    case x =>
      val s = x.toString
      if (s.exists(c => c == ',' || c == '"' || c == '\n' || c == '\r'))
        "\"" + s.replace("\"", "\"\"") + "\""
      else s
  }

  def writeCsv(path: String, header: Seq[String], rows: Iterable[Seq[Any]]): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      out.println(header.map(csvField).mkString(","))
      rows.foreach(r => out.println(r.map(csvField).mkString(",")))
    } finally out.close()
  }
}

/** Per-layer figures accumulated over a traced run, reported as medians
  * (per-call figures) or per-unit medians (per-unit totals). */
final class LayerStats {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(name: String, v: Double): Unit =
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  def median(name: String): Double = Probe.median(samples.getOrElse(name, Nil))
  def sum(name: String): Double = samples.getOrElse(name, Nil).sum
  def mean(name: String): Double =
    if (count(name) == 0) 0.0 else sum(name) / count(name)
  def count(name: String): Int = samples.get(name).map(_.size).getOrElse(0)
}

object Main {

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("workload"), m("data"), m("work"), m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cpus"), m.getOrElse("setup-reps", "3").toInt)
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val spark: SparkSession = GraftSession.builder(opts.cpus)
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = Probe.uptimeS
    val out = try opts.workload match {
      case "dashboard" => DashboardWorkload.run(spark, opts, sessionS)
      case "curate" => CurateWorkload.run(spark, opts, sessionS)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    } finally spark.stop()
    val metrics = out.metrics.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
      .mkString("{", ",", "}")
    println(s"""{"attempted":${out.ops.attempted},"failed":${out.ops.failed},""" +
      s""""session_s":$sessionS,"op_samples":${out.opSamples},"metrics":$metrics}""")
  }
}
