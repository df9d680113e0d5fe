package graft

import java.io.File
import scala.io.Source

/** One session builder: every main reaches Spark through
  * [[GraftSession]], so the parallelism knob (`SPARK_GRAFT_CPUS`), the
  * engine's optimizer extensions and the reaper apply everywhere. A
  * private builder once shipped a bench artifact measured at a drifted
  * local[4] (see [[GraftSession.cpus]]), and a private test session once
  * left the optimizer rule to suite order. Comments are ignored. */
class SessionBuilderSpec extends org.scalatest.funsuite.AnyFunSuite {

  /** Files under `root`, other than `allowed`, that call the builder. */
  private def privateBuilders(root: String, allowed: String): Seq[File] = {
    val dir = new File(root)
    assert(dir.isDirectory, s"run from the repo root: ${dir.getAbsolutePath}")
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(dir)
    assert(files.exists(_.getName == allowed))
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    files.filter(_.getName != allowed).filter { f =>
      val src = Source.fromFile(f, "UTF-8")
      val code = try src.mkString finally src.close()
      val stripped = code.replaceAll("""(?s)/\*.*?\*/""", "")
        .replaceAll("//[^\n]*", "")
      call.findFirstIn(stripped).isDefined
    }
  }

  test("no file under src/main/scala other than GraftSession.scala " +
      "calls SparkSession.builder()") {
    val offenders = privateBuilders("src/main/scala", "GraftSession.scala")
    assert(offenders.isEmpty,
      s"private SparkSession builders: ${offenders.mkString(", ")}")
  }

  test("no spec under src/test/scala builds its own session") {
    // this spec names the call in its test titles, so it skips itself
    val offenders = privateBuilders("src/test/scala", "SessionBuilderSpec.scala")
    assert(offenders.isEmpty,
      s"private SparkSession builders: ${offenders.mkString(", ")}")
  }
}
