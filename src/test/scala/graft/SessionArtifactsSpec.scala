package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Pins [[SparkEntry.memo]]'s contract: one build per key under
  * concurrent callers, failed builds not cached, nested memos free of
  * deadlock, and artifact paths under the application's own root. */
class SessionArtifactsSpec extends SparkSuite {

  private def fresh(tag: String): String =
    s"spec_${tag}_${java.util.UUID.randomUUID().toString.take(8)}"

  test("8 concurrent callers of one key run the build once and share its value") {
    val name = fresh("once")
    val builds = new AtomicInteger(0)
    val barrier = new CyclicBarrier(8)
    val pool = Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val calls = (1 to 8).map(_ => Future {
        barrier.await()
        SparkEntry.memo(spark, name, sfDir) { _ =>
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          new Object
        }
      })
      val values = Await.result(Future.sequence(calls), 60.seconds)
      assert(builds.get == 1)
      assert(values.forall(_ eq values.head))
    } finally { pool.shutdown(); pool.awaitTermination(10, TimeUnit.SECONDS) }
  }

  test("a build that throws is not cached: the next call builds again") {
    val name = fresh("retry")
    val builds = new AtomicInteger(0)
    def call(): Int = SparkEntry.memo(spark, name, sfDir) { _ =>
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      42
    }
    val e = intercept[IllegalStateException](call())
    assert(e.getMessage == "first build fails")
    assert(call() == 42)
    assert(call() == 42)
    assert(builds.get == 2)
  }

  test("a memo called inside another memo's build returns without deadlock") {
    // a 32-deep chain of nested builds: some nested key is bound to hash
    // next to a build still in progress, which a build evaluated inside
    // the map's own lock does not survive
    val base = fresh("nested")
    def chain(i: Int): Int =
      if (i == 32) 0
      else SparkEntry.memo(spark, s"$base$i", sfDir)(_ => chain(i + 1) + 1)
    implicit val ec: ExecutionContext = ExecutionContext.global
    assert(Await.result(Future(chain(0)), 60.seconds) == 32)
    assert(SparkEntry.memo(spark, s"${base}31", sfDir)(_ => -1) == 1)
  }

  test("the build's path lies under graft_<applicationId>_* in java.io.tmpdir") {
    val name = fresh("path")
    val path = SparkEntry.memo(spark, name, sfDir)(identity)
    val tmp = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"))
    val rel = tmp.relativize(java.nio.file.Paths.get(path))
    val root = rel.getName(0).toString
    assert(root.startsWith(s"graft_${spark.sparkContext.applicationId}_"),
      s"$path is not under $tmp/graft_${spark.sparkContext.applicationId}_*")
    assert(rel.getName(1).toString == name)
    assert(path == SparkEntry.artifactDir(spark, name, sfDir))
    // one root per application: every name shares it
    assert(tmp.relativize(java.nio.file.Paths.get(
      SparkEntry.artifactDir(spark, fresh("other"), sfDir))).getName(0).toString == root)
  }
}
