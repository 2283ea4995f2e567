package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.runtime.StageRunner

/** Latches a UDF reaches from executor threads (local mode: same JVM). */
object StageGraphSpecLatch {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** The stage graph of [[StageRunner#execute]]: independent stages overlap,
  * a body reads only what it declares, and the first failure stops the
  * run with every stage either fully committed or absent. */
class StageGraphSpec extends SparkSuite {
  import spark.implicits._

  private def lineageOf(dir: String, runId: String): Map[String, Boolean] =
    new StageRunner(spark, dir, "read").lineage()
      .filter(col("run_id") === runId)
      .select("stage", "resumed").as[(String, Boolean)].collect().toMap

  test("independent stages run concurrently and lineage shows the overlap") {
    val dir = SparkSuite.tempDir("graft-graph-overlap")
    val runner = new StageRunner(spark, dir, "g1")
    val bothStarted = new CountDownLatch(2)
    def meet(v: Int): DataFrame = {
      bothStarted.countDown()
      // sequential stages would never meet here
      assert(bothStarted.await(60, TimeUnit.SECONDS), "siblings did not overlap")
      Seq(v).toDF("v")
    }
    val n = runner.execute {
      val x = runner.stage("x") { meet(1) }
      val y = runner.stage("y") { meet(2) }
      runner.node("xy", x, y) { x().count() + y().count() }
    }
    assert(n == 2)
    val spans = runner.lineage()
      .select("stage", "start_ms", "end_ms").as[(String, Long, Long)]
      .collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val ((xs, xe), (ys, ye)) = (spans("x"), spans("y"))
    assert(xs < ye && ys < xe, s"no overlap: $spans")
  }

  test("a body that reads an undeclared input fails on every run") {
    val runner = new StageRunner(spark, SparkSuite.tempDir("graft-graph-undecl"), "u")
    val e = intercept[IllegalArgumentException] {
      runner.execute {
        val a = runner.stage("a") { Seq(1).toDF("v") }
        // b waits for nothing, so reading a is a race it must never enter
        runner.stage("b") { a() }
      }
    }
    assert(e.getMessage.contains("b reads a without declaring it"), e.getMessage)
  }

  test("no body starts before declare returns, so a throwing declare commits nothing") {
    val dir = SparkSuite.tempDir("graft-graph-declare")
    val started = new CountDownLatch(1)
    val boom = new IllegalStateException("declare failed")
    var startedEarly = false
    val runner = new StageRunner(spark, dir, "d1")
    val thrown = intercept[IllegalStateException] {
      runner.execute {
        runner.stage("a") { started.countDown(); Seq(1).toDF("v") }
        // a stage with no inputs that started here would commit before
        // (or race) the failure below
        startedEarly = started.await(3, TimeUnit.SECONDS)
        throw boom
      }
    }
    assert(thrown eq boom, s"rethrown: $thrown")
    assert(!startedEarly, "a's body started while the graph was declared")
    assert(!StageRunner.completed(spark, dir, "a"), "a committed")
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_lineage")) ||
             !lineageOf(dir, "d1").contains("a"), "a has a lineage row")
  }

  test("a failing stage cancels its sibling, starts nothing downstream, resumes") {
    val l = StageGraphSpecLatch
    l.entered = new CountDownLatch(1)
    l.release = new CountDownLatch(1)
    val hold = udf { (v: Int) =>
      StageGraphSpecLatch.entered.countDown()
      StageGraphSpecLatch.release.await(60, TimeUnit.SECONDS)
      v
    }
    val boom = new IllegalStateException("c failed")
    val downstreamRan = new AtomicBoolean(false)
    // a → (b ∥ c); c → d; (b, d) → e. On the failing run b's job is held
    // in flight until c throws.
    def graph(runner: StageRunner, failing: Boolean): DataFrame =
      runner.execute {
        val a = runner.stage("a") { Seq(1, 2, 3).toDF("v") }
        val b = runner.stage("b", a) {
          if (failing) a().repartition(1).select(hold(col("v")).as("v"))
          else a()
        }
        val c = runner.stage("c", a) {
          if (failing) {
            assert(l.entered.await(60, TimeUnit.SECONDS), "b never started")
            throw boom
          }
          a().select((col("v") * 10).as("v"))
        }
        val d = runner.stage("d", c) {
          if (failing) downstreamRan.set(true)
          c().select((col("v") + 1).as("v"))
        }
        runner.stage("e", b, d) {
          if (failing) downstreamRan.set(true)
          b().unionByName(d())
        }
      }

    val dir = SparkSuite.tempDir("graft-graph-fail")
    val thrown = intercept[IllegalStateException] {
      graph(new StageRunner(spark, dir, "f1"), failing = true)
    }
    l.release.countDown()
    assert(thrown eq boom, s"rethrown: $thrown")
    assert(!downstreamRan.get, "a stage downstream of the failure started")
    // every stage is fully committed (marker and lineage row) or absent
    val lin = lineageOf(dir, "f1")
    for (s <- Seq("a", "b", "c", "d", "e"))
      assert(StageRunner.completed(spark, dir, s) == lin.contains(s),
             s"stage $s half-committed: lineage $lin")
    assert(lin.contains("a") && !lin.contains("c") && !lin.contains("d") &&
             !lin.contains("e"), s"lineage after the failure: $lin")

    // the re-run resumes what committed and yields a clean run's output
    val resumed = graph(new StageRunner(spark, dir, "f2"), failing = false)
      .as[Int].collect().sorted.toSeq
    val clean = graph(new StageRunner(spark, SparkSuite.tempDir("graft-graph-clean"),
                                      "c1"), failing = false)
      .as[Int].collect().sorted.toSeq
    assert(resumed == clean && clean == Seq(1, 2, 3, 11, 21, 31))
    val lin2 = lineageOf(dir, "f2")
    assert(lin2("a") && !lin2("c") && !lin2("d") && !lin2("e") &&
             lin2("b") == lin.contains("b"), s"re-run lineage: $lin2")
  }
}
