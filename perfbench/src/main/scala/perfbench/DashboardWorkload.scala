package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import graft.dsl.QueryJson
import graft.engine.Engine
import graft.prepare.Prepare

/** `dashboard`: one long-lived engine answering a Zipf-skewed query stream
  * while seeded deltas are refreshed into its layout and the layout is
  * compacted once near the end. One unit of work is the whole stream; each
  * query's rows are kept and written out after the stream for the check. */
object DashboardWorkload {

  /** Query indexes a refresh (one per delta) and the compaction run before. */
  private final case class Plan(refreshBefore: Seq[Int], compactBefore: Int)

  private def plan(dir: String): Plan = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val formats: Formats = DefaultFormats
    val j = JsonMethods.parse(Probe.readFile(s"$dir/plan.json"))
    Plan((j \ "refresh_before").extract[Seq[Int]], (j \ "compact_before").extract[Int])
  }

  /** What one stream measured. It holds the stream's engine, so a memory
    * reading taken after the stream counts the engine and its caches. */
  private final class Stream(val engine: Engine) {
    val latencies = mutable.ArrayBuffer.empty[Double]
    var wall = 0.0
    var cpu = 0.0
    def hits: Long = engine.cache.hits
    val results = mutable.ArrayBuffer.empty[(Int, Seq[String], Seq[Row])]
  }

  /** Run the stream over `root`. With a tracer, every public call is a
    * span and its cost feeds `stats`. */
  private def stream(spark: SparkSession, opts: Opts, root: String, ops: Ops,
                     tracer: Option[Tracer], stats: LayerStats,
                     limit: Int = Int.MaxValue): Stream = {
    val p = plan(opts.data)
    val queries = Layers.jsonItems(Probe.readFile(s"${opts.data}/stream.json"))
    val engine: Engine = Layers.engine(spark, root)
    val s = new Stream(engine)
    def traced[T](name: String)(body: => T): (T, Option[CallCost], Double) = tracer match {
      case None => val (v, w) = Probe.time(body); (v, None, w)
      case Some(t) => val (v, c, sp) = t.call(name)(body); (v, Some(c), (sp.endNs - sp.startNs) / 1e9)
    }
    val cpu0 = Probe.cpuS
    val start = Probe.nowS
    queries.take(limit).zipWithIndex.foreach { case (json, i) =>
      val refreshIdx = p.refreshBefore.indexOf(i)
      if (refreshIdx >= 0) {
        tracer.foreach(_.newTrace())
        ops(s"refresh $refreshIdx")(traced("prepare.refresh")(Prepare.refresh(spark,
          Layers.readEvents(spark, s"${opts.data}/delta_$refreshIdx"), root,
          zorder = Prepare.defaultZOrder))).foreach { case (_, cost, w) =>
          cost.foreach { c =>
            stats.add("prepare.refresh_s", w)
            stats.add("prepare.refresh.task_cpu_s", c.taskCpuNs / 1e9)
            stats.add("prepare.refresh.files_written", c.filesWritten.toDouble)
          }
        }
      }
      if (i == p.compactBefore) {
        tracer.foreach(_.newTrace())
        ops("compact")(traced("prepare.compact")(Prepare.compact(spark, root, maxFiles = 1))).foreach {
          case (n, cost, w) =>
            cost.foreach { c =>
              stats.add("prepare.compact_s", w)
              stats.add("prepare.compact.task_cpu_s", c.taskCpuNs / 1e9)
              stats.add("prepare.compact.partitions", n.toDouble)
            }
        }
      }
      tracer.foreach(_.newTrace())
      ops(s"query $i") {
        Probe.time {
          val (q, _, parseWall) = traced("dsl.parse")(QueryJson.parse(json))
          val (df, exec, execWall) = traced("engine.execute")(engine.execute(q))
          val (rows, drain, drainWall) = traced("engine.drain")(df.collect().toSeq)
          (df.columns.toSeq, rows, parseWall, exec.zip(drain), execWall, drainWall)
        }
      }.foreach { case ((cols, rows, parseWall, costs, execWall, drainWall), wall) =>
        s.latencies += wall
        s.results += ((i, cols, rows))
        costs.foreach { case (exec, drain) =>
          val route = Tracer.route(exec.executions.toSeq)
          Routes.all.foreach(r => stats.add(s"route.$r", if (r == route) 1.0 else 0.0))
          stats.add("dsl.parse_ms", parseWall * 1e3)
          stats.add("engine.output_ms", drainWall * 1e3)
          stats.add("rows_out", rows.size.toDouble)
          stats.add("rows_read", exec.rowsRead.toDouble)
          stats.add(if (route == "hit") "engine.hit_ms" else "engine.miss_ms", wall * 1e3)
          if (route != "hit") {
            stats.add("engine.action_ms", exec.jobWallMs.toDouble)
            stats.add("engine.execute_ms", execWall * 1e3 - exec.jobWallMs)
            Catalyst.add(stats, exec)
          }
          Seq(exec, drain).foreach(c => Routes.addCounters(stats, c))
        }
      }
    }
    s.wall = Probe.nowS - start
    s.cpu = Probe.cpuS - cpu0
    stats.add("engine.cache_hit_ratio", s.hits.toDouble / queries.size)
    s
  }

  /** Write each query's rows, and the engine's result-cache hit count. */
  private def dump(s: Stream, dir: String): Unit = {
    new java.io.File(dir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/cache_hits"), s.hits.toString)
    s.results.foreach { case (i, cols, rows) =>
      Probe.writeCsv(s"$dir/q$i.csv", cols, rows.map(_.toSeq))
    }
  }

  def run(spark: SparkSession, opts: Opts, sessionS: Double): Outcome = {
    val ops = new Ops
    val stats = new LayerStats
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    val (roots, setupWalls) = Layers.prepareReps(spark, opts, tracer, stats)
    val setupEnd = System.nanoTime()
    tracer.foreach(_.stop())
    tracer match {
      case None =>
        // the first refresh era, on the second layout, warms the JVM up:
        // the measured stream is that of an engine past its first queries
        stream(spark, opts, roots.last, ops, None, new LayerStats,
          plan(opts.data).refreshBefore.headOption.getOrElse(Int.MaxValue))
        val plain = stream(spark, opts, roots.head, ops, None, new LayerStats)
        dump(plain, s"${opts.work}/out/u0")
        Outcome(Map(
          "setup_s" -> (sessionS + Probe.median(setupWalls)),
          "work_s" -> plain.wall,
          "op_p50_ms" -> Probe.median(plain.latencies) * 1e3,
          "op_p85_ms" -> Probe.percentile(plain.latencies, 85) * 1e3,
          "cpu_s" -> plain.cpu,
          "mem_mb" -> Probe.memMb), ops, plain.latencies.size)
      case Some(t) =>
        // a first stream warms the JVM up; the traced stream runs on the
        // second prepared layout, then an untraced one on a copy of it
        dump(stream(spark, opts, roots.head, ops, None, new LayerStats), s"${opts.work}/out/u0")
        val root = roots.last
        val rerun = s"${opts.work}/layout_copy"
        Probe.copyTree(root, rerun)
        t.start()
        val workStart = System.nanoTime()
        val ts = new LayerStats
        val traced = stream(spark, opts, root, ops, Some(t), ts)
        val workEnd = System.nanoTime()
        t.stop()
        t.writeSpans(s"${opts.work}/spans.jsonl")
        dump(traced, s"${opts.work}/out/t0")
        val again = stream(spark, opts, rerun, ops, None, new LayerStats)
        dump(again, s"${opts.work}/out/u1")
        Outcome(Layers.perLayer(Catalyst.medians(ts) ++ Routes.shares(ts) ++
          Routes.counterSums(ts) ++ Map(
          "dsl.parse_ms" -> ts.median("dsl.parse_ms"),
          "engine.execute_ms" -> ts.median("engine.execute_ms"),
          "engine.hit_ms" -> ts.median("engine.hit_ms"),
          "engine.miss_ms" -> ts.median("engine.miss_ms"),
          "engine.action_ms" -> ts.median("engine.action_ms"),
          "engine.cache_hit_ratio" -> ts.median("engine.cache_hit_ratio"),
          "engine.output_ms" -> ts.median("engine.output_ms"),
          "engine.rows_read_per_row_out" -> ts.sum("rows_read") / math.max(ts.sum("rows_out"), 1.0),
          "prepare.refresh_s" -> ts.median("prepare.refresh_s"),
          "prepare.refresh.task_cpu_s" -> ts.median("prepare.refresh.task_cpu_s"),
          "prepare.refresh.files_written" -> ts.median("prepare.refresh.files_written"),
          "prepare.compact_s" -> ts.median("prepare.compact_s"),
          "prepare.compact.task_cpu_s" -> ts.median("prepare.compact.task_cpu_s"),
          "prepare.compact.partitions" -> ts.median("prepare.compact.partitions"),
          "prepare.layout_files" -> Layers.layoutFiles(root),
          "prepare.space_amp" -> Layers.spaceAmp(roots.head, opts.data),
          "prepare.run.task_cpu_s" -> stats.median("prepare.run.task_cpu_s"),
          "prepare.run.tasks" -> stats.median("prepare.run.tasks"),
          "prepare.run.files_written" -> stats.median("prepare.run.files_written"),
          "prepare.run.bytes_written_mb" -> stats.median("prepare.run.bytes_written_mb"),
          "prepare.run.shuffle_write_mb" -> stats.median("prepare.run.shuffle_write_mb"),
          "unattributed.setup_ms" -> Layers.unattributedMs(t, t0, setupEnd),
          "unattributed.work_ms" -> Layers.unattributedMs(t, workStart, workEnd),
          "trace.overhead_ms" -> (traced.wall - again.wall) * 1e3)), ops)
    }
  }
}
