package graft.model

import graft.SparkSpec
import org.apache.spark.TaskContext

import java.util.concurrent.atomic.AtomicInteger

/** [[Cdf.parMap]]: input order, bounded concurrency, serial error
  * order, and Spark local properties reaching the jobs it starts.
  */
class ParMapSpec extends SparkSpec {

  private val cores = Runtime.getRuntime.availableProcessors

  test("results come back in input order") {
    val xs = (0 until 3 * cores).toVector
    // later elements finish first
    val out = Cdf.parMap(xs) { i => Thread.sleep((xs.size - i) * 5L); i * 10 }
    assert(out == xs.map(_ * 10))
  }

  test("concurrency never exceeds availableProcessors") {
    val running = new AtomicInteger
    val highWater = new AtomicInteger
    Cdf.parMap(0 until 3 * cores) { _ =>
      val now = running.incrementAndGet()
      highWater.accumulateAndGet(now, (a, b) => math.max(a, b))
      Thread.sleep(50)
      running.decrementAndGet()
    }
    assert(highWater.get <= cores)
    assert(highWater.get >= math.min(2, cores), "the calls never overlapped")
  }

  test("the first failing element's error is thrown, after every call finished") {
    val finished = new AtomicInteger
    val n = 2 * cores + 2
    val e = intercept[IllegalStateException] {
      Cdf.parMap(0 until n) { i =>
        try {
          if (i == 0) { Thread.sleep(200); throw new IllegalStateException("element 0") }
          if (i == 1) throw new IllegalStateException("element 1")
          Thread.sleep(300) // still running when element 0 fails
          i
        } finally finished.incrementAndGet()
      }
    }
    assert(e.getMessage == "element 0")
    assert(finished.get == n)
  }

  test("the caller's local properties reach jobs started inside it") {
    val sc = spark.sparkContext
    val key = "graft.parmap.test"
    def seen(): Seq[String] = Cdf.parMap(0 until 2 * cores) { _ =>
      sc.parallelize(Seq(1), 1).map(_ => TaskContext.get().getLocalProperty(key)).collect().head
    }
    try {
      sc.setLocalProperty(key, "first")
      assert(seen().toSet == Set("first"))
      sc.setLocalProperty(key, "second")
      assert(seen().toSet == Set("second"))
    } finally sc.setLocalProperty(key, null)
  }
}
