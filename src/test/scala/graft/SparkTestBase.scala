package graft

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for specs. One JVM-wide session (Spark getOrCreate
  * semantics) keeps the suite fast. */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkTestBase.session

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[File]

  /** A fresh local dir, deleted with everything in it after the suite. */
  def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix).toFile
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try super.afterAll()
    finally synchronized {
      tempDirs.foreach(SparkTestBase.rm); tempDirs.clear()
    }
}

object SparkTestBase {
  /** The engine's own session builder, so every spec runs with
    * [[graft.plans.GraftExtensions]] (its functions and optimizer rule)
    * whatever the suite order, and the engine's staging-dir cleanup;
    * only the parallelism is pinned small. */
  lazy val session: SparkSession = GraftSession.start(
    GraftSession.builder("graft-test")
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4"))

  private def rm(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm))
    f.delete(); ()
  }
}
