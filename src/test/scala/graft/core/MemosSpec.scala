package graft.core

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import graft.SparkSpec

/** The one memo type: per-key build-once cells (nested builds,
  * concurrent first calls, failed builds), the `values` read-back, and
  * `clearAll` releasing every persisted frame it owns.
  */
class MemosSpec extends SparkSpec {

  test("a builder may call its own memo for another key, not for its own") {
    val m = Memos.values[Int]()
    assert(m("a")(m("b")(1) + 1) == 2)
    assert(m("b")(99) == 1)
    intercept[IllegalStateException](m("c")(m("c")(3)))
    assert(m("c")(4) == 4)
  }

  test("8 concurrent first calls for one key build once") {
    val m = Memos.values[Int]()
    val builds = new AtomicInteger
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    try {
      val got = (1 to 8).map(_ => pool.submit(() => {
        start.await()
        m("k") { builds.incrementAndGet(); Thread.sleep(100); 7 }
      }))
      start.countDown()
      assert(got.map(_.get(30, TimeUnit.SECONDS)) == Seq.fill(8)(7))
      assert(builds.get == 1)
    } finally pool.shutdownNow()
  }

  test("a build that throws leaves no entry and is retried on the next call") {
    val m = Memos.values[Int]()
    val e = intercept[RuntimeException](m("k")(throw new RuntimeException("boom")))
    assert(e.getMessage == "boom")
    assert(m.values.isEmpty)
    assert(m("k")(5) == 5)
    assert(m("k")(6) == 5)
  }

  test("values lists what was built; clearAll empties it") {
    val m = Memos.values[String]()
    m("a")("x"); m("b")("y"); m("a")("z")
    assert(m.values.sorted == List("x", "y"))
    Memos.clearAll()
    assert(m.values.isEmpty)
    assert(m("a")("w") == "w")
  }

  test("clearAll unpersists every frames() and keep frame") {
    val sc = spark.sparkContext
    Memos.clearAll()
    val before = sc.getPersistentRDDs.keySet
    def added = sc.getPersistentRDDs.keySet.diff(before)
    def cached = sc.getRDDStorageInfo.map(_.id).toSet

    val frames = Memos.frames()
    val f = frames("f")(spark.range(0, 40, 1, 4).toDF("x"))
    // persisted and materialized at build; later calls serve the frame
    val frameRdds = added
    assert(frameRdds.size == 1 && frameRdds.subsetOf(cached))
    assert(frames("f")(fail("rebuilt")) eq f)

    val kept = Memos.keep("t", spark.range(0, 30, 1, 3).toDF("y"))
    // persisted lazily: nothing more cached until the first action
    assert(added.intersect(cached) == frameRdds)
    assert(kept.count() == 30)
    assert(added.size == 2 && added.subsetOf(cached))

    Memos.clearAll()
    assert(sc.getPersistentRDDs.keySet == before)
    assert(frames.values.isEmpty)
  }

  test("computeIfAbsent appears in src/main only inside core.Memos and core.FanOut") {
    val root = Paths.get("src/main")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val allowed = Set("core/Memos.scala", "core/FanOut.scala")
    val walk = Files.walk(root)
    val offenders =
      try walk.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") &&
          !allowed.exists(a => p.endsWith(Paths.get(a))) &&
          Files.readString(p).contains("computeIfAbsent"))
        .map((p: Path) => root.relativize(p).toString).toList
      finally walk.close()
    assert(offenders.isEmpty,
      s"hold cached state in graft.core.Memos, not a hand-rolled map: $offenders")
  }
}
