package graft

import java.io.File
import scala.io.Source

/** One session builder: every main reaches Spark through
  * [[GraftSession]], so the parallelism knob (`SPARK_GRAFT_CPUS`), the
  * engine's optimizer extensions and the reaper apply everywhere. A
  * private builder once shipped a bench artifact measured at a drifted
  * local[4] (see [[GraftSession.cpus]]). Comments are ignored. */
class SessionBuilderSpec extends org.scalatest.funsuite.AnyFunSuite {

  test("no file under src/main/scala other than GraftSession.scala " +
      "calls SparkSession.builder()") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).map(_.toSeq).getOrElse(Nil).flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    val files = scalaFiles(root)
    assert(files.exists(_.getName == "GraftSession.scala"))
    val call = """SparkSession\s*\.\s*builder\s*\(""".r
    val offenders = files.filter(_.getName != "GraftSession.scala")
      .filter { f =>
        val src = Source.fromFile(f, "UTF-8")
        val code = try src.mkString finally src.close()
        val stripped = code.replaceAll("""(?s)/\*.*?\*/""", "")
          .replaceAll("//[^\n]*", "")
        call.findFirstIn(stripped).isDefined
      }
    assert(offenders.isEmpty,
      s"private SparkSession builders: ${offenders.mkString(", ")}")
  }
}
