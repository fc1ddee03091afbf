package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Family-size ladder for the stop-profile product pair (round-18):
  * measures the claim [[graft.operators.Dedup.stopProfileFamilies]]'s
  * Scaladoc makes — the FAMILY product is linear in the family size
  * while the PAIR expansion of the same family is quadratic BY
  * DEFINITION — rather than asserting it.
  *
  * Fixture per rung: ONE boilerplate family of F docs sharing 30
  * above-cap shingles (df = F) plus 2 uniques each (no exact replicas,
  * so the rep collapse is a no-op and the pair fan-out is real), over a
  * fixed background of 20k ordinary docs whose pool shingles stay
  * below the cap (the df classification has real work to do; their
  * profiles are empty). The only above-cap vocabulary is the family's
  * 30 shingles, so both forms see exactly one profile bucket.
  *
  * Measured forms per rung:
  *  - families: [[Dedup.stopProfileFamilies]] — expect F output rows
  *    and near-flat wall (one groupBy + count; work is O(corpus)).
  *  - pairs: [[Dedup.stopProfilePairsFromSigs]] with bucketCap
  *    DISABLED (the probe measures the quadratic the cap exists to
  *    refuse) — expect C(F,2) verified rows and ~4x wall per 2x rung.
  *
  * Gates before timings are trusted: families = exactly one family,
  * id 0, every row carrying size F; pairs = exactly C(F,2) rows (every
  * member pair shares 30 of 32 shingles, J = 30/34 > threshold).
  * Beyond `pairsMax` the pair form is SKIPPED with its pair count
  * printed — the infeasibility at large F is the finding, and the
  * families form keeps being measured where the pair form can't go.
  *
  * Usage: runMain graft.tools.ProbeStopFamilies [label] [rungs...]
  *   default rungs: 1000 2000 4000 8000 32000 128000 (pairs measured
  *   up to 8000 = 32M pairs; families at every rung)
  */
object ProbeStopFamilies {

  private class MaxTask extends SparkListener {
    private var mx = 0L
    private var n = 0L
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      mx = math.max(mx, e.taskInfo.duration); n += 1
    }
    def reset(): Unit = synchronized { mx = 0L; n = 0L }
    def snap: (Long, Long) = synchronized { (mx, n) }
  }

  private val FamBase = 2_000_000_000L // 30 family (above-cap) shingles
  private val PoolBase = 5_000_000_000L // 10k mid-frequency pool
  private val UniqBase = 10_000_000_000L // per-doc unique shingles
  private val Background = 20000L

  /** (id, hs): ids [0, f) = the family (30 shared + 2 uniques);
    * ids [f, f+20k) = background (40 uniques + 5 pool shingles whose
    * expected df ~ 10 stays below the cap). */
  private def makeSigs(spark: org.apache.spark.sql.SparkSession,
                       f: Long): DataFrame = {
    val fam = spark.range(f).toDF("id")
      .withColumn("hs", concat(
        transform(sequence(lit(0), lit(29)), k => k.cast("long") + lit(FamBase)),
        transform(sequence(lit(0), lit(1)),
          j => col("id") * 64 + j + lit(UniqBase))))
    val bg = spark.range(f, f + Background).toDF("id")
      .withColumn("hs", concat(
        transform(sequence(lit(0), lit(39)),
          j => col("id") * 64 + j + lit(UniqBase)),
        transform(sequence(lit(0), lit(4)),
          j => pmod(xxhash64(col("id") * 5 + j), lit(10000)) + lit(PoolBase))))
    fam.unionByName(bg)
  }

  def main(args: Array[String]): Unit = {
    val label = (if (args.length > 0) args(0) else "default")
      .replaceAll("[^A-Za-z0-9._-]", "_")
    val rungs = if (args.length > 1) args.drop(1).map(_.toLong).toSeq
                else Seq(1000L, 2000L, 4000L, 8000L, 32000L, 128000L)
    val pairsMax = 40_000_000L // measure the pair form up to this C(F,2)

    val spark = graft.GraftSession.builder("32")
      .appName("probe-stop-families").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val mt = new MaxTask
    spark.sparkContext.addSparkListener(mt)

    def timed(body: => DataFrame): (Double, Long, Long, Long) = {
      val df = body.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      mt.reset()
      val t0 = System.nanoTime()
      val rows = df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val (maxMs, tasks) = mt.snap
      df.unpersist(blocking = true)
      Dedup.releaseIntermediates()
      (sec, maxMs, tasks, rows)
    }

    // JIT warmup on a small slice of both forms
    {
      val w = makeSigs(spark, 200L)
      Dedup.stopProfileFamilies(w, Dedup.repIndexFromSigs(w), dfCap = 50)
        .count()
      Dedup.releaseIntermediates()
      Dedup.stopProfilePairsFromSigs(w, Dedup.repIndexFromSigs(w),
        threshold = 0.3, dfCap = 50, bucketCap = Int.MaxValue).count()
      Dedup.releaseIntermediates()
    }

    val rungJsons = rungs.map { f =>
      val sigs = makeSigs(spark, f)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      sigs.count() // materialize: timings isolate the operators
      val expectPairs = f * (f - 1) / 2

      val (famSec, famMax, famTasks, famRows) =
        timed(Dedup.stopProfileFamilies(sigs, Dedup.repIndexFromSigs(sigs),
          dfCap = 50))
      require(famRows == f, s"F=$f: families emitted $famRows rows, want $f")
      // gate: one family, id 0, every row carrying size F
      val famChk = Dedup.stopProfileFamilies(sigs,
          Dedup.repIndexFromSigs(sigs), dfCap = 50)
        .agg(countDistinct(col("family_id")).as("nf"),
          min(col("family_id")).as("fid"),
          min(col("family_size")).as("mn"), max(col("family_size")).as("mx"))
        .collect()(0)
      Dedup.releaseIntermediates()
      require(famChk.getLong(0) == 1L && famChk.getLong(1) == 0L &&
        famChk.getLong(2) == f && famChk.getLong(3) == f,
        s"F=$f: family gate failed: $famChk")

      val pairPart =
        if (expectPairs <= pairsMax) {
          val (pSec, pMax, pTasks, pRows) =
            timed(Dedup.stopProfilePairsFromSigs(sigs,
              Dedup.repIndexFromSigs(sigs), threshold = 0.3, dfCap = 50,
              bucketCap = Int.MaxValue))
          require(pRows == expectPairs,
            s"F=$f: pair form emitted $pRows rows, want $expectPairs")
          s""""pairs":{"sec":${f"$pSec%.3f"},"max_task_ms":$pMax,""" +
            s""""tasks":$pTasks,"rows":$pRows}"""
        } else
          s""""pairs":{"skipped":"C(F,2) = $expectPairs rows — the """ +
            "quadratic product the family view exists to avoid\"}"

      sigs.unpersist(blocking = true)
      s"""{"family_size":$f,""" +
        s""""families":{"sec":${f"$famSec%.3f"},"max_task_ms":$famMax,""" +
        s""""tasks":$famTasks,"rows":$famRows},""" + pairPart + "}"
    }

    val json = "{" +
      s""""metric":"stop_families_ladder","label":"$label",""" +
      s""""background_docs":$Background,"rungs":[""" +
      rungJsons.mkString(",") + "]}"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"target/stopfam_ladder_$label.json"),
      json + "\n")
    println(json)
    spark.stop()
  }
}
