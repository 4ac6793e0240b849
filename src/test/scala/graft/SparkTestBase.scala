package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import java.util.Comparator
import java.util.concurrent.ConcurrentLinkedQueue

/** Shared session: one per suite, local threads, UTC, small shuffle. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = LocalSession.builder(4)
    .config("spark.sql.warehouse.dir",
      s"/tmp/graft_warehouse_${sys.props.getOrElse("user.name", "u")}")
    .getOrCreate()

  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  val sf01 = "/root/testdata/sf0.1"

  /** A fresh `graft_<tag>*` temp dir, deleted with its contents when the
    * test JVM exits.
    */
  def tempDir(tag: String): Path = SparkTestBase.tempDir(tag)
}

object SparkTestBase {
  private val made = new ConcurrentLinkedQueue[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    made.forEach { root =>
      try {
        val all = Files.walk(root)
        try all.sorted(Comparator.reverseOrder[Path]())
          .forEach(p => Files.deleteIfExists(p))
        finally all.close()
      } catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException => ()
      }
    }))

  def tempDir(tag: String): Path = {
    val d = Files.createTempDirectory(s"graft_$tag")
    made.add(d)
    d
  }
}
