package graft.tools
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints.pin
/** args: pagesPath [mode] [churnPct] — mode "cc" (default), "ed"
  * (ScoredEd), "bu" (BottomUp), "delta" (full run, then an incremental
  * run over a re-crawl with ~churnPct% of pages modified, default 1 —
  * measures the delta-refresh bill vs the full bill; 10 evidences the
  * 1×-churn maintenance cost at high churn), "eddelta" / "budelta" (the
  * same full+delta pair in ScoredEd / BottomUp mode — exercises the
  * component-bounded graph deltas). After each call it prints every
  * stage's start/end offset into the call (from `_lineage`'s
  * `start_ms`/`end_ms`) and the call's overlap: Σ stage wall / call wall,
  * above 1 when stages ran concurrently. */
object PipelineSoak {
  /** The stage timeline of the call that wrote `runId`'s rows into
    * `outDir` and ran from `startMs` to `endMs` (epoch ms). */
  private def timeline(spark: SparkSession, outDir: String, runId: String,
                       startMs: Long, endMs: Long): Unit = {
    val rows = new graft.runtime.StageRunner(spark, outDir, runId).lineage()
      .filter(col("run_id") === runId && !col("stage").contains("/"))
      .select("stage", "start_ms", "end_ms").collect()
      .map(r => (r.getString(0), r.getLong(1) - startMs, r.getLong(2) - startMs))
      .sortBy(r => (r._2, r._1))
    rows.foreach { case (stage, s, e) =>
      println(f"STAGE $stage%-26s start=${s / 1e3}%8.3f end=${e / 1e3}%8.3f " +
              f"wall=${(e - s) / 1e3}%7.3f")
    }
    val sum = rows.map(r => r._3 - r._2).sum
    println(f"OVERLAP run=$runId stages=${rows.length} " +
            f"stage_wall_s=${sum / 1e3}%.3f call_s=${(endMs - startMs) / 1e3}%.3f " +
            f"overlap=${sum.toDouble / (endMs - startMs)}%.2f")
  }


  def main(args: Array[String]): Unit = {
    val pagesPath = args(0)
    val mode = if (args.length > 1) args(1) else "cc"
    val churnPct = if (args.length > 2) args(2).toInt else 1
    val nCountries = if (args.length > 3) args(3).toInt else 250
    val knownPer = if (args.length > 4) args(4).toInt else 12
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.core.Normalize.register(spark)
    val world = graft.testkit.CorpusGen.World(nCountries = nCountries,
                                              knownPerListing = knownPer)
    val seeds = world.seeds(spark)
    val out = java.nio.file.Files.createTempDirectory("graft-soak").toString
    val pages = spark.read.parquet(pagesPath)
    val n = pages.count()
    val canon =
      if (mode == "ed" || mode == "eddelta")
        graft.Pipeline.Canonicalization.ScoredEd()
      else if (mode == "bu" || mode == "budelta")
        graft.Pipeline.Canonicalization.BottomUp()
      else graft.Pipeline.Canonicalization.Components
    val t0 = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    val triples = graft.Pipeline.run(spark, pages, seeds, out, "run-1",
                                     canon = canon)
    val t1Ms = System.currentTimeMillis()
    val nt = triples.count()
    val sec = (System.nanoTime() - t0) / 1e9
    println(s"SOAK mode=$mode pages=$n triples=$nt sec=$sec " +
            s"pages_per_s=${n/sec} triples_per_s=${nt/sec}")
    timeline(spark, out, "run-1", t0Ms, t1Ms)
    if (mode == "delta" || mode == "eddelta" || mode == "budelta") {
      // re-crawl: ~churnPct% of pages get a new capture (bumped warc_ts,
      // body appended — changes text, not the mention set, so triples and
      // the correctness baseline are unchanged)
      val changed = pmod(xxhash64(col("url")), lit(100)) < churnPct
      val v2 = pin(pages
        .withColumn("warc_ts",
          when(changed, col("warc_ts") + expr("INTERVAL 1 HOUR"))
            .otherwise(col("warc_ts")))
        .withColumn("html",
          when(changed, concat(col("html"),
            lit(" <p>updated</p>".getBytes("UTF-8"))))
            .otherwise(col("html"))))
      val nChanged = v2.filter(changed).count()
      val outD = java.nio.file.Files.createTempDirectory("graft-soak-d").toString
      val tD = System.nanoTime()
      val tDMs = System.currentTimeMillis()
      val deltaTriples = graft.Pipeline.runDelta(spark, v2, seeds, outD, out,
                                                 "delta-1", canon = canon)
      val tD1Ms = System.currentTimeMillis()
      val ntD = deltaTriples.count()
      val secD = (System.nanoTime() - tD) / 1e9
      println(s"SOAK mode=$mode churn_pct=$churnPct pages=$n " +
              s"changed=$nChanged triples=$ntD " +
              s"sec=$secD pages_per_s=${n/secD} full_sec=$sec " +
              s"speedup=${sec/secD}")
      timeline(spark, outD, "delta-1", tDMs, tD1Ms)
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(outD))
    }
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(out))
    spark.stop()
  }
}
