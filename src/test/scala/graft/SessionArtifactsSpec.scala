package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.SessionArtifacts

/** The session-artifact contract: one build per (kind, session, dataset)
  * even under concurrent first calls, same directory for every caller. */
class SessionArtifactsSpec extends AnyFunSuite {

  lazy val spark = SparkTestSession.get

  test("concurrent first calls run the build exactly once and share the dir") {
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    val gate = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    val futures = (1 to 8).map { _ =>
      scala.concurrent.Future {
        gate.await()
        SessionArtifacts.dir("spec-race", spark, "ds1") { t =>
          builds.incrementAndGet()
          Thread.sleep(50) // widen the race window: a losing build would overlap
          java.nio.file.Files.writeString(java.nio.file.Paths.get(t, "marker"), "x")
        }
      }
    }
    gate.countDown()
    val dirs = scala.concurrent.Await.result(
      scala.concurrent.Future.sequence(futures),
      scala.concurrent.duration.Duration.Inf).toSet
    pool.shutdown()
    assert(builds.get() == 1, s"build ran ${builds.get()} times under the race")
    assert(dirs.size == 1, s"callers saw different dirs: $dirs")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dirs.head, "marker")))
  }

  test("distinct datasets and kinds get distinct artifact dirs") {
    val a = SessionArtifacts.dir("spec-k", spark, "dsA")(_ => ())
    val b = SessionArtifacts.dir("spec-k", spark, "dsB")(_ => ())
    val c = SessionArtifacts.dir("spec-k2", spark, "dsA")(_ => ())
    assert(Set(a, b, c).size == 3)
    // memoized: a second call returns the same dir without rebuilding
    var rebuilt = false
    assert(SessionArtifacts.dir("spec-k", spark, "dsA") { _ => rebuilt = true } == a)
    assert(!rebuilt)
  }

  test("table writes its build once and every call reads the saved rows") {
    import spark.implicits._
    val builds = new java.util.concurrent.atomic.AtomicInteger(0)
    def served = SessionArtifacts.table("spec-table", spark, "dsT") {
      builds.incrementAndGet()
      Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    }.as[(Long, String)].collect().toSet
    val expected = Set((1L, "a"), (2L, "b"))
    assert(served == expected)
    assert(served == expected)
    assert(builds.get() == 1, s"build ran ${builds.get()} times")
    assert(SessionArtifacts.costs.contains("spec-table"))
  }
}
