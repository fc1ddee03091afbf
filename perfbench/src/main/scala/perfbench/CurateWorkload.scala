package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, Similarity, TextAnalysis}

/** `curate`: the data-curation operators over a seeded corpus. Set-up
  * loads and caches the documents, embeddings and queries; one unit of
  * work is one pass of the six operator calls, each drained through
  * `queryExecution.toRdd`. A first, unmeasured pass warms the JVM up, and
  * keeps the drained rows and writes them out for the check. */
object CurateWorkload {

  val Ops6: Seq[String] = Seq("quality", "minhash", "clusters", "blocked", "ivf_topk", "brute_topk")
  val K = 10

  private final case class Inputs(docs: DataFrame, emb: DataFrame, queries: DataFrame) {
    def unpersist(): Unit = Seq(docs, emb, queries).foreach(_.unpersist(blocking = true))
  }

  private def load(spark: SparkSession, dir: String): Inputs = {
    def cached(name: String) = {
      val df = spark.read.parquet(s"$dir/$name.parquet").persist(StorageLevel.MEMORY_ONLY)
      df.count()
      df
    }
    Inputs(cached("docs"), cached("embeddings"), cached("queries"))
  }

  /** One operator call's result: its output frame, the output rows as
    * text when they were kept, its wall seconds and, traced, its cost. */
  private final case class Call(name: String, df: Option[DataFrame],
                                rows: Option[Seq[Seq[String]]], wall: Double,
                                cost: Option[CallCost])

  /** Drain a frame through its executed plan (`queryExecution.toRdd`, the
    * repo's bench protocol), keeping the rows as text when asked. */
  private def drain(df: DataFrame, keep: Boolean): Option[Seq[Seq[String]]] = {
    val rdd = df.queryExecution.toRdd
    if (!keep) { rdd.count(); None }
    else {
      val types = df.schema.fields.map(_.dataType)
      Some(rdd.map(r => types.indices.map(i =>
        if (r.isNullAt(i)) "" else r.get(i, types(i)).toString)).collect().toSeq)
    }
  }

  /** One pass over the six operator calls. */
  private def pass(in: Inputs, ops: Ops, tracer: Option[Tracer], keep: Boolean): Seq[Call] = {
    def timed(name: String)(df: => DataFrame): Call =
      ops(name) {
        tracer match {
          case None =>
            val ((d, rows), w) = Probe.time { val d = df; (d, drain(d, keep)) }
            Call(name, Some(d), rows, w, None)
          case Some(t) =>
            t.newTrace()
            val ((d, rows), c, s) = t.call(s"operators.$name") { val d = df; (d, drain(d, keep)) }
            Call(name, Some(d), rows, (s.endNs - s.startNs) / 1e9, Some(c))
        }
      }.getOrElse(Call(name, None, None, Double.NaN, None))
    val quality = timed("quality")(TextAnalysis.qualityScored(in.docs, "doc_id", "text"))
    val minhash = timed("minhash")(
      Dedup.minhashPairs(in.docs, "doc_id", "text").persist(StorageLevel.MEMORY_ONLY))
    val clusters = minhash.df match {
      case Some(pairs) => timed("clusters")(Dedup.clusters(pairs))
      case None => Call("clusters", None, None, Double.NaN, None)
    }
    val blocked = timed("blocked")(Dedup.ngramJaccardPairsBlocked(in.docs, "doc_id", "text"))
    val ivf = timed("ivf_topk")(Similarity.ivfTopK(in.emb, in.queries, "vec_id", "embedding", K))
    val brute = timed("brute_topk")(
      Similarity.bruteForceTopK(in.emb, in.queries, "vec_id", "embedding", K))
    Seq(quality, minhash, clusters, blocked, ivf, brute)
  }

  /** Write a pass's kept outputs as CSVs and return ivf recall@K against
    * the brute-force top-K. */
  private def dump(results: Seq[Call], dir: String): Double = {
    new java.io.File(dir).mkdirs()
    for (c <- results; df <- c.df; rows <- c.rows)
      Probe.writeCsv(s"$dir/${c.name}.csv", df.columns.toSeq, rows)
    def byQuery(name: String, idCol: String): Map[String, Set[String]] =
      results.find(_.name == name).flatMap(c => c.df.zip(c.rows)).map { case (df, rows) =>
        val (q, n) = (df.columns.indexOf("q_id"), df.columns.indexOf(idCol))
        rows.groupMap(_(q))(_(n)).view.mapValues(_.toSet).toMap
      }.getOrElse(Map.empty)
    val (ann, exact) = (byQuery("ivf_topk", "n_id"), byQuery("brute_topk", "n_id"))
    val per = exact.map { case (q, truth) =>
      ann.getOrElse(q, Set.empty[String]).intersect(truth).size.toDouble / truth.size }
    if (per.isEmpty) 0.0 else per.sum / per.size
  }

  def run(spark: SparkSession, opts: Opts, sessionS: Double): Outcome = {
    val ops = new Ops
    val stats = new LayerStats
    val tracer = if (opts.trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.start())
    val t0 = System.nanoTime()
    var in: Inputs = null
    val loadWalls = (0 until opts.setupReps).map { _ =>
      if (in != null) in.unpersist()
      val (i, w) = tracer match {
        case None => Probe.time(load(spark, opts.data))
        case Some(t) =>
          t.newTrace()
          val (i, _, s) = t.call("curate.load")(load(spark, opts.data))
          (i, (s.endNs - s.startNs) / 1e9)
      }
      in = i
      w
    }
    val setupEnd = System.nanoTime()
    tracer.foreach(_.stop())
    val nDocs = in.docs.count().toDouble

    val passWalls = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.LinkedHashMap(Ops6.map(_ -> mutable.ArrayBuffer.empty[Double]): _*)
    var recall = 0.0
    def onePass(traced: Option[Tracer], first: Boolean): Unit = {
      val (results, wall) = Probe.time(pass(in, ops, traced, keep = first))
      passWalls += wall
      results.foreach { case Call(n, _, _, w, cost) =>
        if (!w.isNaN) perOp(n) += w
        cost.foreach { c =>
          stats.add(s"operators.${n}_s", w)
          stats.add("operators.task_cpu_s", c.taskCpuNs / 1e9)
          stats.add("operators.gc_s", c.gcMs / 1e3)
          stats.add("operators.shuffle_write_mb", c.shuffleWriteBytes / Layers.Mb)
          stats.add("operators.spill_mb", c.spillBytes / Layers.Mb)
          stats.add("operators.peak_exec_mem_mb", c.peakExecMem / Layers.Mb)
        }
      }
      if (first) recall = dump(results, s"${opts.work}/out/${if (traced.isEmpty) "u0" else "t0"}")
      results.find(_.name == "minhash").flatMap(_.df).foreach(_.unpersist(blocking = true))
    }

    // the first pass warms the JVM up and keeps its rows for the check;
    // at least two passes after it are measured, since passes keep getting
    // faster and a median over one or two of them would jump between runs
    onePass(None, first = true)
    passWalls.clear()
    perOp.values.foreach(_.clear())
    val cpu0 = Probe.cpuS
    val loopStart = Probe.nowS
    var units = 0
    while (!opts.trace && (units < 2 || Probe.nowS - loopStart < opts.seconds)) {
      onePass(None, first = false)
      units += 1
    }
    val cpu = (Probe.cpuS - cpu0) / math.max(units, 1)

    tracer match {
      case None =>
        val opMedians = perOp.values.map(Probe.median(_))
        Outcome(Map(
          "setup_s" -> (sessionS + Probe.median(loadWalls)),
          "work_s" -> Probe.median(passWalls),
          "op_p50_ms" -> Probe.median(opMedians) * 1e3,
          "op_p85_ms" -> Probe.percentile(opMedians, 85) * 1e3,
          "cpu_s" -> cpu,
          "mem_mb" -> Probe.memMb), ops, perOp.values.map(_.size).sum)
      case Some(t) =>
        // after the warm-up pass above, traced and untraced passes
        // alternate; the overhead compares their medians
        val plain, traced = mutable.ArrayBuffer.empty[Double]
        val workStart = System.nanoTime()
        val loop = Probe.nowS
        while (plain.isEmpty || Probe.nowS - loop < opts.seconds) {
          t.start()
          onePass(Some(t), first = traced.isEmpty)
          t.stop()
          traced += passWalls.last
          onePass(None, first = false)
          plain += passWalls.last
        }
        val workEnd = System.nanoTime()
        t.writeSpans(s"${opts.work}/spans.jsonl")
        // per-call figures are medians; per-pass totals are sums over the
        // six calls, divided by the number of traced passes
        val perPass = Seq("operators.task_cpu_s", "operators.gc_s",
          "operators.shuffle_write_mb", "operators.spill_mb")
          .map(n => n -> stats.sum(n) / traced.size)
        Outcome(Layers.perLayer(
          Ops6.map(n => s"operators.${n}_s" -> stats.median(s"operators.${n}_s")).toMap ++
          perPass ++ Map(
          "operators.peak_exec_mem_mb" -> stats.median("operators.peak_exec_mem_mb"),
          "operators.docs_per_s" -> nDocs / Probe.median(plain),
          "operators.ann_recall_at_10" -> recall,
          "unattributed.setup_ms" -> Layers.unattributedMs(t, t0, setupEnd),
          "unattributed.work_ms" ->
            (Layers.unattributedMs(t, workStart, workEnd) - plain.sum * 1e3) / traced.size,
          "trace.overhead_ms" -> (Probe.median(traced) - Probe.median(plain)) * 1e3)), ops)
    }
  }
}
