package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

/** Materialized: the write-once scratch-table registry's lifecycle
  * contract (ADVICE r9) — build once per (key, dir content), serve the
  * cached parquet while the dir is untouched, REBUILD when the dir's
  * content fingerprint moves (the long-lived-session staleness case the
  * pre-r10 madStats cache silently got wrong), and honor explicit
  * invalidation.
  */
class MaterializedSpec extends SparkTestBase {
  import spark.implicits._

  private def freshDir(): String = {
    val d = tempDir("mat_spec_").toString
    d
  }

  private def writeData(dir: String, vals: Seq[Long]): Unit =
    vals.toDF("v").coalesce(1).write.mode("overwrite")
      .parquet(s"$dir/t.parquet")

  test("build once per key+content; same content serves the scratch " +
      "copy without rebuilding") {
    val dir = freshDir()
    writeData(dir, Seq(1L, 2L, 3L))
    val before = Materialized.buildCount
    def read() = Materialized.table(spark, s"spec:$dir", dir)(
      spark.read.parquet(s"$dir/t.parquet").agg(sum(col("v")).as("s")))
    assert(read().head().getLong(0) == 6L)
    val afterFirst = Materialized.buildCount
    assert(afterFirst == before + 1)
    assert(read().head().getLong(0) == 6L)
    assert(Materialized.buildCount == afterFirst, "rebuilt on same content")
  }

  test("content change under the same path invalidates: the next access " +
      "rebuilds and serves the NEW statistics") {
    val dir = freshDir()
    writeData(dir, Seq(1L, 2L, 3L))
    def read() = Materialized.table(spark, s"spec2:$dir", dir)(
      spark.read.parquet(s"$dir/t.parquet").agg(sum(col("v")).as("s")))
    assert(read().head().getLong(0) == 6L)
    val afterFirst = Materialized.buildCount
    // regenerate the data at the SAME path (different content => new
    // file sizes/mtimes => new fingerprint)
    writeData(dir, Seq(10L, 20L))
    assert(read().head().getLong(0) == 30L,
      "served stale statistics after the dir was regenerated")
    assert(Materialized.buildCount == afterFirst + 1)
  }

  test("invalidateAll forces a rebuild even with unchanged content") {
    val dir = freshDir()
    writeData(dir, Seq(5L))
    def read() = Materialized.table(spark, s"spec3:$dir", dir)(
      spark.read.parquet(s"$dir/t.parquet").agg(sum(col("v")).as("s")))
    assert(read().head().getLong(0) == 5L)
    val afterFirst = Materialized.buildCount
    Materialized.invalidateAll()
    assert(read().head().getLong(0) == 5L)
    assert(Materialized.buildCount == afterFirst + 1)
  }

  test("fingerprint covers nested files and is listing-stable") {
    val dir = freshDir()
    writeData(dir, Seq(1L, 2L))
    val a = Materialized.fingerprint(dir)
    assert(a == Materialized.fingerprint(dir), "unstable on unchanged dir")
    // touching a nested file's mtime moves the fingerprint
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get(dir))
    val f = try walk.iterator().asScala
      .find(Files.isRegularFile(_)).get finally walk.close()
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        Files.getLastModifiedTime(f).toMillis + 2000))
    assert(Materialized.fingerprint(dir) != a)
    assert(Materialized.fingerprint("/nonexistent-graft-path") == "absent")
  }
}
