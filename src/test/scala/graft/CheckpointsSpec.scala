package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints
import graft.testkit.CorpusGen

/** Latches a UDF reaches from executor threads (local mode: same JVM). */
object CheckpointsSpecLatch {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** Pins ([[Checkpoints]]): [[Checkpoints.free]] releases only the frame's
  * own blocks, and each owner — a `Pipeline.run`, a query — frees exactly
  * the pins it took, when it ends. */
class CheckpointsSpec extends SparkSuite {
  import spark.implicits._

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** A tables dir holding only a small `documents` table. */
  private lazy val docsDir = {
    val d = SparkSuite.tempDir("graft-pins-docs")
    Seq((1L, "the cat sat on the mat today"),
        (2L, "the cat sat on the mat again"),
        (3L, "a dog ran in the park at noon"))
      .toDF("doc_id", "text").write.parquet(s"$d/documents.parquet")
    d
  }

  test("free(df) frees only df's own checkpoint under a concurrent checkpoint") {
    val l = CheckpointsSpecLatch
    l.entered = new CountDownLatch(1)
    l.release = new CountDownLatch(1)
    val hold = udf { (x: Long) =>
      CheckpointsSpecLatch.entered.countDown()
      CheckpointsSpecLatch.release.await(60, TimeUnit.SECONDS)
      x
    }
    // thread A sits inside pin(), its checkpoint job held by the UDF
    @volatile var aDf: DataFrame = null
    val threadA = new Thread(() =>
      aDf = Checkpoints.pin(spark.range(0, 1, 1, 1).select(hold(col("id")).as("v"))))
    threadA.start()
    assert(l.entered.await(60, TimeUnit.SECONDS), "A never entered its job")
    // thread B (this one) checkpoints meanwhile
    val b = Checkpoints.pin(Seq(1, 2, 3).toDF("v"))
    l.release.countDown()
    threadA.join(120000)
    assert(aDf != null, "A did not finish")
    val aIds = aDf.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet
    assert(aIds.size == 1, s"A's ids: $aIds")
    Checkpoints.free(aDf)
    // B's blocks survive A's free
    assert(b.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  test("entering a query frees the previous query's pins, not a caller's") {
    val mine = Seq(1, 2, 3).toDF("v").localCheckpoint()
    val before = persistentIds
    SparkEntry.queries("dedup_minhash_lsh")(spark, docsDir).collect()
    val pinned = persistentIds -- before
    assert(pinned.nonEmpty, "the query took no pin")
    SparkEntry.queries("text_quality_score")(spark, docsDir).collect()
    assert((persistentIds & pinned).isEmpty)
    // taken outside any owner: no query frees it
    assert(mine.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }

  private lazy val world = CorpusGen.default
  private lazy val seeds = world.seeds(spark)
  private def pages = world.pages.toDS().toDF()

  test("no pin taken during a Pipeline.run outlives it") {
    seeds
    val before = persistentIds
    assert(Pipeline.run(spark, pages, seeds, SparkSuite.tempDir("graft-pins-run"))
      .count() > 0)
    assert(persistentIds -- before == Set.empty[Int])
  }

  test("no pin taken during a failing Pipeline.run outlives it") {
    // StageGraphSpec-style failure: `pages_text` throws once the seeds are
    // pinned and the graph's first stages ran
    val failInPagesText = udf { (html: Array[Byte]) =>
      val job = org.apache.spark.TaskContext.get()
        .getLocalProperty("spark.job.description")
      if (job != null && job.endsWith(" pages_text"))
        throw new IllegalStateException("pages_text failed")
      html
    }
    // read from parquet, so the UDF runs in the stages' tasks rather than
    // folded into a local relation at planning time
    val pagesDir = SparkSuite.tempDir("graft-pins-pages")
    pages.write.mode("overwrite").parquet(pagesDir)
    val failing = spark.read.parquet(pagesDir)
      .withColumn("html", failInPagesText(col("html")))
    seeds
    val before = persistentIds
    val e = intercept[Exception] {
      Pipeline.run(spark, failing, seeds, SparkSuite.tempDir("graft-pins-fail"),
                   runId = "pins-fail")
    }
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
             .exists(t => String.valueOf(t.getMessage).contains("pages_text failed")),
           s"unexpected failure: $e")
    assert(persistentIds -- before == Set.empty[Int])
  }

  test("TripleDiff.diff frees both distinct triple sets when it returns") {
    val keys = Seq("subj", "pred", "obj", "is_literal")
    val got = Seq(("a", "p", "b", false), ("a", "p", "c", false),
                  ("a", "p", "c", false)).toDF(keys: _*)
    val expected = Seq(("a", "p", "b", false), ("d", "p", "e", true))
      .toDF(keys: _*)
    val before = persistentIds
    val pr = graft.emit.TripleDiff.diff(got, expected)
    assert((pr.inter, pr.got, pr.expected) == ((1L, 2L, 2L)))
    // storageLevel is the CacheManager lookup of the frame's plan
    for (df <- Seq(got, expected))
      assert(df.select(keys.head, keys.tail: _*).distinct().storageLevel ==
               org.apache.spark.storage.StorageLevel.NONE)
    assert(persistentIds -- before == Set.empty[Int])
  }

  test("only Checkpoints takes or frees a pin in src/main") {
    val src = new java.io.File("src/main/scala")
    assume(src.isDirectory, "sources not reachable from the working dir")
    // the Bench and Verify mains keep their own checkpoints
    val exempt = Seq("graft/runtime/Checkpoints.scala", "graft/Bench.scala",
                     "graft/Verify.scala")
    // a CacheManager cache is a second pin mechanism outside every owner
    val banned = Seq("localCheckpoint(", "unpersist(", "getPersistentRDDs",
                     ".cache()", ".persist(")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles.toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val hits = files(src)
      .filter(f => f.getName.endsWith(".scala") &&
                   !exempt.exists(f.getPath.replace('\\', '/').endsWith))
      .flatMap { f =>
        java.nio.file.Files.readAllLines(f.toPath).asScala.zipWithIndex
          .filter { case (line, _) => banned.exists(line.contains) }
          .map { case (line, i) => s"${f.getPath}:${i + 1}: ${line.trim}" }
      }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
