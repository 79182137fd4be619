package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.funsuite.AnyFunSuite

/** The process-wide artifact memo ([[BuildTimes.once]] /
  * [[BuildTimes.onceDir]]) — no Spark. Names are spec-unique: the memo
  * is JVM-wide and shared with every other suite. */
class BuildTimesSpec extends AnyFunSuite {

  private def thread(body: => Unit): Thread = {
    val t = new Thread(() => body)
    t.start()
    t
  }

  test("same key from two threads builds once") {
    val builds = new AtomicInteger
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val got = new java.util.concurrent.ConcurrentLinkedQueue[Int]
    def get(): Unit = got.add(BuildTimes.once("spec_single_flight", "k") {
      builds.incrementAndGet()
      entered.countDown()
      release.await(10, TimeUnit.SECONDS)
      42
    })
    val a = thread(get())
    assert(entered.await(10, TimeUnit.SECONDS))
    val b = thread(get())
    Thread.sleep(100) // b is now parked on the in-flight build
    release.countDown()
    a.join(); b.join()
    assert(builds.get == 1)
    assert(got.toArray.toSeq == Seq(42, 42))
  }

  test("two keys build concurrently") {
    // each build waits for the other to start: serialized builds would
    // time out here
    val both = new CountDownLatch(2)
    val met = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]
    def get(key: String): Unit = met.add(BuildTimes.once("spec_two_keys", key) {
      both.countDown()
      both.await(10, TimeUnit.SECONDS)
    })
    val ts = Seq(thread(get("a")), thread(get("b")))
    ts.foreach(_.join())
    assert(met.toArray.toSeq == Seq(true, true))
  }

  test("a nested once works") {
    val v = BuildTimes.once("spec_outer", "k") {
      BuildTimes.once("spec_inner", "k")(1) + BuildTimes.once("spec_outer", "k2")(2)
    }
    assert(v == 3)
    assert(BuildTimes.once("spec_outer", "k")(-1) == 3)
  }

  test("a failed build is not cached and rethrows") {
    val builds = new AtomicInteger
    val e = intercept[IllegalStateException] {
      BuildTimes.once("spec_fail", "k") {
        builds.incrementAndGet()
        throw new IllegalStateException("boom")
      }
    }
    assert(e.getMessage == "boom")
    assert(BuildTimes.once("spec_fail", "k") { builds.incrementAndGet(); 7 } == 7)
    assert(BuildTimes.once("spec_fail", "k") { builds.incrementAndGet(); 8 } == 7)
    assert(builds.get == 2)
  }

  test("a deleted scratch dir is rebuilt") {
    val builds = new AtomicInteger
    def get(): String = BuildTimes.onceDir("spec_dir", "k") { d =>
      builds.incrementAndGet()
      Files.write(Paths.get(d, "data"), Array[Byte](1))
      d
    }
    val first = get()
    assert(Files.exists(Paths.get(first, "data")))
    assert(get() == first && builds.get == 1)
    Files.delete(Paths.get(first, "data"))
    Files.delete(Paths.get(first))
    val second = get()
    assert(second != first && builds.get == 2)
    assert(Files.exists(Paths.get(second, "data")))
  }

  test("snapshot lists every built name") {
    BuildTimes.once("spec_snapshot", "k")(())
    val names = BuildTimes.snapshot.map(_._1)
    assert(names.contains("spec_snapshot"))
    assert(names == names.sorted)
    assert(BuildTimes.snapshot.forall(_._2 >= 0.0))
  }
}
