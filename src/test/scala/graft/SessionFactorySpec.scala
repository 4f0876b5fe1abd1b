package graft

import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Every session comes from [[Spark.local]]: a hand-copied builder drifts
  * (sessions without the native SQL functions, with other parquet or
  * time-zone settings). The scan runs over the sources, not a session. */
class SessionFactorySpec extends AnyFunSuite {

  // a pattern, not the literal text, so this file does not match itself;
  // a call split over lines still matches
  private val builder = """SparkSession\s*\.\s*builder""".r
  private val factory = Paths.get("src/main/scala/graft/Spark.scala")

  private def scalaFiles(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("no file under src/main or src/test builds a SparkSession except graft/Spark.scala") {
    val files = scalaFiles("src/main") ++ scalaFiles("src/test")
    val builders = files.filter(f => builder.findFirstIn(Files.readString(f)).isDefined)
    assert(builders === Seq(factory))
  }
}
