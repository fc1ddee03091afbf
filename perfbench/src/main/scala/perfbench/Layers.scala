package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.engine.Engine
import graft.prepare.Prepare
import graft.schema.PreparedCatalog
import graft.sources.CsvSource

/** The per-layer metrics a traced run reports, with the set-up and layout
  * helpers the workloads share. A traced run reports every per-layer name;
  * a layer its workload never enters reads 0. */
object Layers {
  val PerLayer: Seq[String] = Seq(
    "dsl.parse_ms",
    "engine.execute_ms", "engine.hit_ms", "engine.miss_ms", "engine.cache_hit_ratio",
    "engine.route_rollup_share", "engine.route_zorder_share", "engine.route_scan_share",
    "engine.action_ms", "engine.jobs", "engine.tasks", "engine.files_read",
    "engine.input_mb", "engine.rows_read_per_row_out", "engine.task_cpu_s",
    "engine.gc_s", "engine.shuffle_write_mb", "engine.spill_mb", "engine.output_ms",
    "catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
    "catalyst.top_rule_ms",
    "prepare.run.task_cpu_s", "prepare.run.tasks", "prepare.run.files_written",
    "prepare.run.bytes_written_mb", "prepare.run.shuffle_write_mb",
    "prepare.space_amp",
    "prepare.refresh_s", "prepare.refresh.task_cpu_s", "prepare.refresh.files_written",
    "prepare.compact_s", "prepare.compact.task_cpu_s", "prepare.compact.partitions",
    "prepare.layout_files",
    "operators.quality_s", "operators.minhash_s", "operators.clusters_s",
    "operators.blocked_s", "operators.ivf_topk_s", "operators.brute_topk_s",
    "operators.docs_per_s", "operators.ann_recall_at_10",
    "operators.task_cpu_s", "operators.gc_s", "operators.shuffle_write_mb",
    "operators.spill_mb", "operators.peak_exec_mem_mb",
    "unattributed.setup_ms", "unattributed.work_ms", "trace.overhead_ms")

  /** Complete a traced run's map: every per-layer name, 0 where unused. */
  def perLayer(m: Map[String, Double]): Map[String, Double] = {
    val unknown = m.keySet -- PerLayer
    require(unknown.isEmpty, s"unlisted per-layer metrics: $unknown")
    PerLayer.map(k => k -> m.getOrElse(k, 0.0)).toMap
  }

  val Mb = 1024.0 * 1024.0

  /** The raw `events` schema the generator writes. */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def readEvents(spark: SparkSession, dir: String) =
    CsvSource.readStrict(spark, s"$dir/events_part_*.csv", EventsSchema)

  /** Prepare a layout the way the engine's prepared entries do: default
    * rollups plus the default z-ordered secondary layout. */
  def prepare(spark: SparkSession, dataDir: String, root: String): Unit =
    Prepare.run(spark, readEvents(spark, dataDir), root, zorder = Prepare.defaultZOrder)

  def engine(spark: SparkSession, root: String): Engine =
    new Engine(spark, PreparedCatalog(root), Prepare.defaultAggregates(),
      zlayouts = Prepare.zLayoutDefs(root))

  /** Bytes of a layout's data files over bytes of the raw CSVs it came from. */
  def spaceAmp(root: String, dataDir: String): Double = {
    val raw = new java.io.File(dataDir).listFiles()
      .filter(_.getName.startsWith("events_part_")).map(_.length).sum
    Probe.dataFiles(root).map(_.length).sum.toDouble / raw
  }

  def layoutFiles(root: String): Double =
    Probe.dataFiles(root).count(_.getName.endsWith(".parquet")).toDouble

  /** Split a JSON array into the compact JSON text of each element. */
  def jsonItems(json: String): Seq[String] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    JsonMethods.parse(json) match {
      case JArray(items) => items.map(i => JsonMethods.compact(JsonMethods.render(i)))
      case other => sys.error(s"expected a JSON array, got $other")
    }
  }

  /** Run `reps` set-ups, each preparing a fresh layout; the returned roots
    * are in rep order, the times are wall seconds of each set-up. */
  def prepareReps(spark: SparkSession, opts: Opts, tracer: Option[Tracer],
                  stats: LayerStats): (Seq[String], Seq[Double]) = {
    val runs = (0 until opts.setupReps).map { j =>
      val root = s"${opts.work}/layout_$j"
      Probe.deleteTree(root)
      val wall = tracer match {
        case None => Probe.time(prepare(spark, opts.data, root))._2
        case Some(t) =>
          t.newTrace()
          val (_, c, s) = t.call("prepare.run")(prepare(spark, opts.data, root))
          stats.add("prepare.run.task_cpu_s", c.taskCpuNs / 1e9)
          stats.add("prepare.run.tasks", c.tasks.toDouble)
          stats.add("prepare.run.files_written", c.filesWritten.toDouble)
          stats.add("prepare.run.bytes_written_mb", c.outputBytes / Mb)
          stats.add("prepare.run.shuffle_write_mb", c.shuffleWriteBytes / Mb)
          (s.endNs - s.startNs) / 1e9
      }
      (root, wall)
    }
    System.err.println(s"perfbench: set-up walls ${runs.map(_._2).mkString(" ")}")
    (runs.map(_._1), runs.map(_._2))
  }

  /** Wall minus the summed top-level spans inside [from, to) (ns). */
  def unattributedMs(t: Tracer, fromNs: Long, toNs: Long): Double = {
    val inside = t.spanSeq.filter(s => s.parent == 0L && s.startNs >= fromNs && s.endNs <= toNs)
    ((toNs - fromNs) - inside.map(s => s.endNs - s.startNs).sum) / 1e6
  }
}

/** Route classes of a query and the engine counters summed over a stream. */
object Routes {
  val all: Seq[String] = Seq("hit", "rollup", "zorder", "scan")

  def shares(stats: LayerStats): Map[String, Double] =
    Seq("rollup", "zorder", "scan").map(r =>
      s"engine.route_${r}_share" -> stats.mean(s"route.$r")).toMap

  private val counters = Seq("engine.jobs", "engine.tasks", "engine.files_read",
    "engine.input_mb", "engine.task_cpu_s", "engine.gc_s", "engine.shuffle_write_mb",
    "engine.spill_mb")

  def addCounters(stats: LayerStats, c: CallCost): Unit = {
    stats.add("engine.jobs", c.jobs)
    stats.add("engine.tasks", c.tasks.toDouble)
    stats.add("engine.files_read", c.filesRead.toDouble)
    stats.add("engine.input_mb", c.inputBytes / Layers.Mb)
    stats.add("engine.task_cpu_s", c.taskCpuNs / 1e9)
    stats.add("engine.gc_s", c.gcMs / 1e3)
    stats.add("engine.shuffle_write_mb", c.shuffleWriteBytes / Layers.Mb)
    stats.add("engine.spill_mb", c.spillBytes / Layers.Mb)
  }

  def counterSums(stats: LayerStats): Map[String, Double] =
    counters.map(k => k -> stats.sum(k)).toMap
}

/** Catalyst phase figures of one engine call's query executions. */
object Catalyst {
  def add(stats: LayerStats, c: CallCost): Unit = if (c.executions.nonEmpty) {
    stats.add("catalyst.analysis_ms", c.analysisMs)
    stats.add("catalyst.optimization_ms", c.optimizationMs)
    stats.add("catalyst.planning_ms", c.planningMs)
    val rules = c.executions.flatMap(_.rules)
      .groupMapReduce(_._1)(_._2)(_ + _)
    stats.add("catalyst.top_rule_ms", if (rules.isEmpty) 0.0 else rules.values.max)
  }

  def medians(stats: LayerStats): Map[String, Double] =
    Seq("catalyst.analysis_ms", "catalyst.optimization_ms", "catalyst.planning_ms",
      "catalyst.top_rule_ms").map(k => k -> stats.median(k)).toMap
}
