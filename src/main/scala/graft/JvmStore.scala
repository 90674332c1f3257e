package graft

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The per-JVM artifact store: build once, serve many. A store is a
  * scratch directory that `write` fills once per JVM per (prefix, key)
  * and every later call reads by path — a constant sample slice, a
  * serve index, an LM ladder, a dedup artifact table. This is the
  * production layout at corpus scale: an artifact of a 100 TB crawl is
  * written once per corpus generation and read by every query, never
  * re-derived per query.
  *
  * The contract, stated once for every store:
  *  - one build per JVM per key: concurrent callers of one key wait for
  *    the one build and all get its path; a `write` that throws records
  *    nothing, so the next call builds again;
  *  - it caches PATHS, never plans: each caller reads the path back with
  *    its own session, so no live frame outlives a query
  *    ([[Bench.pinExprIds]] relies on this);
  *  - the first consumer's cold invocation pays the build (Bench's
  *    `rep0`); later invocations price the read alone;
  *  - every scratch dir, store or [[scratch]], is deleted by a shutdown
  *    hook at JVM exit (a failed run included); `kill -9` leaks them.
  *
  * A build may read another store (a seed index over a sample table):
  * builds run outside the registry map's own update, in a per-key holder,
  * so a nested store call is an ordinary lookup.
  */
object JvmStore {
  private val dirs = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => {
    dirs.forEach { root =>
      try {
        val all = Files.walk(root)
        try all.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => try Files.deleteIfExists(p) catch { case _: Exception => () })
        finally all.close()
      } catch { case _: Exception => () }
    }
  }, "graft-scratch-cleanup"))

  /** A fresh temp directory named after `prefix`, deleted at JVM exit —
    * for a build that runs per invocation (an index-build gate).
    */
  def scratch(prefix: String): String = {
    val p = Files.createTempDirectory(prefix)
    dirs.add(p)
    p.toString
  }

  /** One key's build: the lazy val runs `write` once, under this
    * holder's own lock, outside the map.
    */
  private final class Slot(prefix: String, write: String => Unit) {
    lazy val path: String = { val dir = scratch(prefix); write(dir); dir }
  }

  private val slots = new ConcurrentHashMap[(String, String), Slot]()

  /** The store `prefix` holds for `key`: a scratch dir that `write` has
    * filled, built on the first call in this JVM.
    */
  def apply(prefix: String, key: String)(write: String => Unit): String = {
    val slot = slots.computeIfAbsent((prefix, key), _ => new Slot(prefix, write))
    try slot.path
    catch { case e: Throwable => slots.remove((prefix, key), slot); throw e }
  }

  private val schemas = new ConcurrentHashMap[(String, String), StructType]()

  /** A parquet store of the frame `build` returns, written once per JVM
    * (partitioned by `partitionBy`, if any) and read back by `s` with the
    * schema the build read off the written files. A bare parquet read
    * infers that schema again on every call, which costs a Spark job per
    * read; a read given the schema runs none and plans the same scan.
    */
  def frame(s: SparkSession, prefix: String, key: String, partitionBy: String*)(
      build: => DataFrame): DataFrame = {
    val path = apply(prefix, key) { tmp =>
      build.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(tmp)
      schemas.put((prefix, key), s.read.parquet(tmp).schema)
    }
    s.read.schema(schemas.get((prefix, key))).parquet(path)
  }
}
