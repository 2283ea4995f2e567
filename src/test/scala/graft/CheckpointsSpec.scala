package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.apache.spark.sql.functions._
import graft.runtime.Checkpoints

/** Latches a UDF reaches from executor threads (local mode: same JVM). */
object CheckpointsSpecLatch {
  @volatile var entered = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)
}

/** [[Checkpoints.tracked]] attributes to a checkpoint only its own blocks,
  * even while another thread checkpoints (concurrent pipeline stages). */
class CheckpointsSpec extends SparkSuite {
  import spark.implicits._

  test("tracked ids are the checkpoint's own under a concurrent checkpoint") {
    val l = CheckpointsSpecLatch
    l.entered = new CountDownLatch(1)
    l.release = new CountDownLatch(1)
    val hold = udf { (x: Long) =>
      CheckpointsSpecLatch.entered.countDown()
      CheckpointsSpecLatch.release.await(60, TimeUnit.SECONDS)
      x
    }
    // thread A sits inside tracked(), its checkpoint job held by the UDF
    @volatile var a: (org.apache.spark.sql.DataFrame, Set[Int]) = null
    val threadA = new Thread(() =>
      a = Checkpoints.tracked(spark.range(0, 1, 1, 1).select(hold(col("id")).as("v"))))
    threadA.start()
    assert(l.entered.await(60, TimeUnit.SECONDS), "A never entered its job")
    // thread B (this one) checkpoints meanwhile
    val b = Seq(1, 2, 3).toDF("v").localCheckpoint()
    l.release.countDown()
    threadA.join(120000)
    assert(a != null, "A did not finish")
    val (aDf, aIds) = a
    assert(aIds.size == 1, s"A's ids: $aIds")
    Checkpoints.free(aDf, aIds)
    // B's blocks survive A's free
    assert(b.as[Int].collect().sorted.toSeq == Seq(1, 2, 3))
  }
}
