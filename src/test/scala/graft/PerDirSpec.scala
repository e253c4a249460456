package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The per-dir model cache: one training per dir, nothing cached on
  * failure, and trainers that call other caches.
  */
class PerDirSpec extends AnyFunSuite {

  // the trainers below never touch the session
  private val spark: SparkSession = null

  /** A cache whose trainer counts its runs and returns a fresh object. */
  private def counting(): (AtomicInteger, PerDir[Array[Int]]) = {
    val runs = new AtomicInteger()
    (runs, PerDir { (_, dir) => runs.incrementAndGet(); Array(dir.length) })
  }

  test("repeated and concurrent calls for one dir train once") {
    val runs = new AtomicInteger()
    val cache = PerDir { (_, _) =>
      runs.incrementAndGet()
      Thread.sleep(50) // hold the first fit open while the others arrive
      new Object
    }
    val pool = Executors.newFixedThreadPool(8)
    val got = try {
      val gate = new CountDownLatch(1)
      val call: Callable[Object] = () => { gate.await(); cache(spark, "d") }
      val calls = (1 to 8).map(_ => pool.submit(call))
      gate.countDown()
      calls.map(_.get(30, TimeUnit.SECONDS))
    } finally pool.shutdown()
    assert(got.forall(_ eq got.head))
    assert(cache(spark, "d") eq got.head)
    assert(runs.get == 1)
  }

  test("two dirs train separately") {
    val (runs, cache) = counting()
    val a = cache(spark, "a")
    val bb = cache(spark, "bb")
    assert(runs.get == 2)
    assert(a.toSeq == Seq(1) && bb.toSeq == Seq(2))
    assert(cache(spark, "a") eq a)
    assert(cache(spark, "bb") eq bb)
    assert(runs.get == 2)
  }

  test("a throwing train caches nothing and the next call retrains") {
    val runs = new AtomicInteger()
    val cache = PerDir { (_, _) =>
      if (runs.incrementAndGet() == 1) sys.error("first fit fails")
      "model"
    }
    intercept[RuntimeException](cache(spark, "d"))
    assert(cache(spark, "d") == "model")
    assert(cache(spark, "d") == "model")
    assert(runs.get == 2)
  }

  test("a trainer that calls another PerDir returns normally") {
    val (innerRuns, inner) = counting()
    val outer = PerDir { (s, dir) => inner(s, dir).toSeq :+ 0 }
    assert(outer(spark, "d") == Seq(1, 0))
    assert(inner(spark, "d").toSeq == Seq(1))
    assert(innerRuns.get == 1)
  }
}
