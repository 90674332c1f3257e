package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

class JvmStoreSpec extends SparkSpec {
  private def key() = java.util.UUID.randomUUID().toString

  test("concurrent callers of one key run the build once and share its path") {
    val k = key()
    val builds = new AtomicInteger
    val start = new java.util.concurrent.CountDownLatch(1)
    val calls = (1 to 8).map { _ =>
      Future {
        start.await()
        JvmStore("graft-store-spec", k) { dir =>
          builds.incrementAndGet()
          Thread.sleep(200)
          java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "x"), "built")
        }
      }
    }
    start.countDown()
    val paths = Await.result(Future.sequence(calls), 30.seconds)
    assert(builds.get == 1)
    assert(paths.distinct.size == 1)
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(paths.head, "x")) == "built")
  }

  test("a build that reads another store returns its path") {
    val k = key()
    var inner = ""
    val outer = JvmStore("graft-store-spec-outer", k) { dir =>
      inner = JvmStore("graft-store-spec-inner", k) { _ => () }
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "inner"), inner)
    }
    assert(java.nio.file.Files.readString(java.nio.file.Paths.get(outer, "inner")) == inner)
    assert(JvmStore("graft-store-spec-inner", k)(_ => fail("built twice")) == inner)
  }

  test("a build that throws records nothing: the next call builds and returns a path") {
    val k = key()
    assertThrows[IllegalStateException] {
      JvmStore("graft-store-spec", k)(_ => throw new IllegalStateException("build failed"))
    }
    val path = JvmStore("graft-store-spec", k)(_ => ())
    assert(new java.io.File(path).isDirectory)
    assert(JvmStore("graft-store-spec", k)(_ => fail("built twice")) == path)
  }

  test("a frame store reads back with its written schema, and planning a read runs no job") {
    import spark.implicits._
    val k = key()
    val rows = Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 2))
    def store() = JvmStore.frame(spark, "graft-store-spec-frame", k, "n") {
      rows.toDF("id", "s", "n")
    }
    val first = store()
    assert(first.as[(Long, String, Int)].collect().toSet == rows.toSet)
    // a bare parquet read infers the schema with a Spark job on every call
    val jobs = jobsIn("frame-store-spec") {
      store().where($"n" === 2).queryExecution.executedPlan
    }
    assert(jobs == 0, s"planning a store read ran $jobs jobs")
    assert(store().schema == first.schema)
    assert(store().where($"n" === 2).select($"id").as[Long].collect().toSet == Set(2L, 3L))
  }
}
