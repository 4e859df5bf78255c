package graft

import java.util.concurrent.atomic.AtomicBoolean

class ConcurrentlySpec extends SparkSpec {

  test("results come back in input order") {
    // later thunks finish first: order must follow the input, not
    // completion
    val got = Concurrently.all((0 until 6).map(i => () => {
      Thread.sleep((6 - i) * 20L)
      i * 10
    }))
    assert(got == (0 until 6).map(_ * 10))
    assert(Concurrently.both("a", 1) == (("a", 1)))
  }

  test("a failure waits for every sibling, then rethrows the first with " +
      "the others suppressed") {
    val slowDone = new AtomicBoolean(false)
    val t0 = System.nanoTime()
    val e = intercept[IllegalStateException] {
      Concurrently.all(Seq(
        () => throw new IllegalStateException("fast"),
        () => { Thread.sleep(300); "ok" },
        () => {
          Thread.sleep(600)
          slowDone.set(true)
          throw new IllegalArgumentException("slow")
        }))
    }
    val waited = (System.nanoTime() - t0) / 1e9
    assert(slowDone.get(), "returned while a sibling was still running")
    assert(waited >= 0.6)
    assert(e.getMessage == "fast")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("slow"))
  }

  test("nested fan-outs wider than the machine complete") {
    val width = Runtime.getRuntime.availableProcessors + 2
    val got = Concurrently.all((0 until width).map(i => () =>
      Concurrently.all((0 until width).map(j => () => {
        Thread.sleep(10)
        i * width + j
      })).sum))
    assert(got == (0 until width).map(i =>
      (0 until width).map(i * width + _).sum))
  }

  test("pool thunks run with their caller's job group and session") {
    val sc = spark.sparkContext
    org.apache.spark.sql.SparkSession.setActiveSession(spark)
    // what each thunk sees; the calling thread runs the first one
    def seen(group: String): Seq[(String, Boolean)] = {
      sc.setJobGroup(group, group)
      try Concurrently.all((0 until 4).map(_ => () => {
        Thread.sleep(20)
        (sc.getLocalProperty("spark.jobGroup.id"),
          org.apache.spark.sql.SparkSession.getActiveSession
            .contains(spark))
      }))
      finally sc.clearJobGroup()
    }
    // the second call reuses the pool threads the first one ran on
    for (g <- Seq("caller-a", "caller-b"))
      assert(seen(g) == Seq.fill(4)((g, true)))
  }
}
