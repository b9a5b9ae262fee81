package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Fit]], the fit-once memo of every trained model: single-flight per
  * key, one entry per dir, the oracle's view of the model, and the
  * consumers that take a warm fit without firing a job. */
class FitSpec extends AnyFunSuite {
  import SparkTestSession._

  /** A fresh dir holding `t.parquet` with `rows` rows. */
  private def tmpInput(rows: Long): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_fit").toString
    spark.range(rows).write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  test("four threads cold-asking one key run the fit once") {
    val fit = Fit[Int]("t.parquet")
    val dir = tmpInput(3)
    val runs = new AtomicInteger
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CountDownLatch(1)
      val fs = (1 to 4).map(_ => pool.submit(new Callable[Int] {
        def call(): Int = {
          start.await()
          fit(spark, dir) { _ => runs.incrementAndGet(); Thread.sleep(200); 7 }
        }
      }))
      start.countDown()
      assert(fs.map(_.get(1, TimeUnit.MINUTES)) === Seq.fill(4)(7))
      assert(runs.get === 1)
    } finally pool.shutdown()
  }

  test("rewriting the input refits, and the dir still holds one entry") {
    val fit = Fit[Long]("t.parquet")
    val dir = tmpInput(3)
    val runs = new AtomicInteger
    var handed = 0L
    def rows = fit(spark, dir) { fp =>
      runs.incrementAndGet()
      handed = fp
      spark.read.parquet(s"$dir/t.parquet").count()
    }
    def fpNow = ops.Artifacts.fingerprint(spark, s"$dir/t.parquet")
    assert(rows === 3L)
    assert(rows === 3L)
    assert(runs.get === 1)
    assert(handed === fpNow)
    spark.range(5).write.mode("overwrite").parquet(s"$dir/t.parquet")
    assert(rows === 5L)
    assert(runs.get === 2)
    assert(handed === fpNow)
    assert(fit.entries === 1)
  }

  test("forOracle prefers graft.oracle.sfdir over the last dir") {
    val fit = Fit[String]("t.parquet")
    val (a, b) = (tmpInput(1), tmpInput(1))
    fit(spark, a)(_ => "a")
    fit(spark, b)(_ => "b")
    val key = "graft.oracle.sfdir"
    val prev = sys.props.get(key)
    try {
      sys.props.remove(key)
      assert(fit.forOracle === Some("b"))
      sys.props(key) = a
      assert(fit.forOracle === Some("a"))
      sys.props(key) = tmpInput(1)
      assert(fit.forOracle === None)
    } finally prev match {
      case Some(v) => sys.props(key) = v
      case None => sys.props.remove(key)
    }
  }

  test("with the fits warm, building q279 and q291 fires no job") {
    // the consumers take the driver-held centroids; only the action runs
    Seq("q279_cluster_quality", "q291_kmeans_k_sweep").foreach { q =>
      val fn = SparkEntry.queries(q)
      val rows = fn(spark, sfDir).count()
      val (df, jobs) = jobsFiredBy(fn(spark, sfDir))
      assert(jobs === 0, s"$q fired $jobs job(s) while building")
      assert(df.count() === rows)
    }
  }
}
