package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: per-stage wall-clock attribution of
  * Dedup.ngramJaccardPairsBlockedFromSigs at a given SF — which of
  * rep-collapse / inverted-index build / candidate self-join / profile
  * verify / replica expansion dominates the headline entry's time. */
object ProbeBlocked {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.GraftSession.builder("32").appName("probe-blocked").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.operators.Dedup

    val docs = graft.sources.ParquetNanos.read(spark, s"$sfDir/documents.parquet")
    // session-persisted signature table, like the entry's artifact
    val sigs = Dedup.signatures(docs, "doc_id", "text", n = 3)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    sigs.queryExecution.toRdd.count()
    val dfc = Dedup.shingleDocFreq(Dedup.repSignatures(sigs)._2)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    dfc.queryExecution.toRdd.count()
    Dedup.releaseIntermediates()

    def timeIt(label: String)(mk: => DataFrame): Unit = {
      mk.queryExecution.toRdd.count() // warm
      Dedup.releaseIntermediates()
      val times = (1 to passes).map { _ =>
        val t0 = System.nanoTime()
        mk.queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        Dedup.releaseIntermediates()
        dt
      }
      println(f"$label%-24s min=${times.min}%.3f " +
        times.map(t => f"$t%.3f").mkString("[", ",", "]"))
    }

    // full operator (what the bench times)
    timeIt("full") {
      Dedup.ngramJaccardPairsBlockedFromSigs(sigs,
        Dedup.repIndexFromSigs(sigs), threshold = 0.3, dfCap = 10)
    }
    // the complete PRE-round-14 formulation (prof built per pair side,
    // never persisted), inline for same-session comparison
    timeIt("full-old") {
      import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
      val (rep, repSigs) = Dedup.repSignatures(sigs)
      val members = sigs.select(col("g"), col("id"))
      val hs = repSigs.select(col("id"), col("hs"))
      val invC = Dedup.pooledPersist(
        hs.select(col("id"), explode(col("hs")).as("g"))
          .join(dfc.filter(col("c") >= 2), Seq("g"))
          .select(col("id"), col("g"), col("c")))
      val invR = invC.filter(col("c") <= 10).select(col("id"), col("g"))
      val pairs = invR.select(col("g"), col("id").as("a_id"))
        .join(invR.select(col("g"), col("id").as("b_id")).hint("shuffle_hash"),
          Seq("g"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("shared_rare"))
      val stops = invC.filter(col("c") > 10)
        .groupBy(col("id")).agg(collect_list(col("g")).as("stop"))
      val prof = hs.select(col("id"), size(col("hs")).as("n_sh"))
        .join(stops, Seq("id"), "left")
        .withColumn("stop",
          coalesce(col("stop"), array().cast(ArrayType(LongType))))
      val a = prof.select(col("id").as("a_id"), col("n_sh").as("a_n"),
        col("stop").as("a_stop"))
      val b = prof.select(col("id").as("b_id"), col("n_sh").as("b_n"),
        col("stop").as("b_stop"))
      val repPairs = pairs.join(a, "a_id").join(b, "b_id")
        .withColumn("shared", col("shared_rare") +
          size(array_intersect(col("a_stop"), col("b_stop"))))
        .withColumn("jaccard", col("shared").cast(DoubleType) /
          (col("a_n") + col("b_n") - col("shared")).cast(DoubleType))
        .filter(col("jaccard") >= 0.3)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
      val dupGroups = rep.filter(col("cnt") >= 2).select(col("g"))
      val internal = members.join(dupGroups.hint("shuffle_hash"), "g")
        .select(col("g"), col("id").as("xa"))
        .join(members.select(col("g"), col("id").as("xb")).hint("shuffle_hash"),
          "g")
        .filter(col("xa") < col("xb"))
        .select(col("xa").as("a_id"), col("xb").as("b_id"),
          lit(1.0).as("jaccard"))
      val repG = rep.select(col("id"), col("g"))
      val cross = repPairs
        .join(repG.select(col("id").as("a_id"), col("g").as("ga")), "a_id")
        .join(repG.select(col("id").as("b_id"), col("g").as("gb")), "b_id")
        .join(members.select(col("g").as("ga"), col("id").as("xa")), "ga")
        .join(members.select(col("g").as("gb"), col("id").as("xb")), "gb")
        .select(least(col("xa"), col("xb")).as("a_id"),
          greatest(col("xa"), col("xb")).as("b_id"), col("jaccard"))
      internal.unionByName(cross)
    }
    // stage A: rep collapse only (the two pooled persists materialized)
    timeIt("repSignatures") {
      val (rep, repSigs) = Dedup.repSignatures(sigs)
      rep.join(repSigs, "id").select(col("g"))
    }
    // stage B: rep + inverted index with df classes
    timeIt("invC") {
      val (_, repSigs) = Dedup.repSignatures(sigs)
      repSigs.select(col("id"), explode(col("hs")).as("g"))
        .join(dfc.filter(col("c") >= 2), Seq("g"))
        .select(col("id"), col("g"), col("c"))
    }
    // stage C: candidates (rare self-join + pair counts) on top of invC
    timeIt("pairs") {
      val (_, repSigs) = Dedup.repSignatures(sigs)
      val invC = graft.operators.Dedup.pooledPersist(
        repSigs.select(col("id"), explode(col("hs")).as("g"))
          .join(dfc.filter(col("c") >= 2), Seq("g"))
          .select(col("id"), col("g"), col("c")))
      val invR = invC.filter(col("c") <= 10).select(col("id"), col("g"))
      val p = invR.select(col("g"), col("id").as("a_id"))
        .join(invR.select(col("g"), col("id").as("b_id")).hint("shuffle_hash"),
          Seq("g"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("shared_rare"))
      p
    }
    // stage D: verified rep pairs (everything except the expansion)
    timeIt("verify-no-expansion") {
      import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
      val (_, repSigs) = Dedup.repSignatures(sigs)
      val hs = repSigs.select(col("id"), col("hs"))
      val invC = Dedup.pooledPersist(
        hs.select(col("id"), explode(col("hs")).as("g"))
          .join(dfc.filter(col("c") >= 2), Seq("g"))
          .select(col("id"), col("g"), col("c")))
      val invR = invC.filter(col("c") <= 10).select(col("id"), col("g"))
      val pairs = invR.select(col("g"), col("id").as("a_id"))
        .join(invR.select(col("g"), col("id").as("b_id")).hint("shuffle_hash"),
          Seq("g"))
        .filter(col("a_id") < col("b_id"))
        .groupBy(col("a_id"), col("b_id"))
        .agg(count(lit(1)).as("shared_rare"))
      val stops = invC.filter(col("c") > 10)
        .groupBy(col("id")).agg(collect_list(col("g")).as("stop"))
      val prof = hs.select(col("id"), size(col("hs")).as("n_sh"))
        .join(stops, Seq("id"), "left")
        .withColumn("stop",
          coalesce(col("stop"), array().cast(ArrayType(LongType))))
      val a = prof.select(col("id").as("a_id"), col("n_sh").as("a_n"),
        col("stop").as("a_stop"))
      val b = prof.select(col("id").as("b_id"), col("n_sh").as("b_n"),
        col("stop").as("b_stop"))
      pairs.join(a, "a_id").join(b, "b_id")
        .withColumn("shared", col("shared_rare") +
          size(array_intersect(col("a_stop"), col("b_stop"))))
        .withColumn("jaccard", col("shared").cast(DoubleType) /
          (col("a_n") + col("b_n") - col("shared")).cast(DoubleType))
        .filter(col("jaccard") >= 0.3)
        .select(col("a_id"), col("b_id"), round(col("jaccard"), 4).as("jaccard"))
    }
    spark.stop()
  }
}
