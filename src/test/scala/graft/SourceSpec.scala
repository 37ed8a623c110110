package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Checks over the main sources as text: what the compiler accepts
  * without a word but a reader of the docs would miss.
  */
class SourceSpec extends AnyFunSuite {

  test("no scaladoc in src/main is directly followed by another scaladoc") {
    // a doc comment documents the definition after it; one followed
    // (blank lines aside) by another doc comment documents nothing, and
    // scaladoc drops it without a warning
    def orphans(text: String): Iterator[Int] =
      Iterator.iterate(text.indexOf("/**"))(i => text.indexOf("/**", i + 3))
        .takeWhile(_ >= 0)
        .filter { i =>
          val end = text.indexOf("*/", i + 3)
          end >= 0 && text.startsWith("/**", text.indexWhere(!_.isWhitespace, end + 2))
        }
    val files = Using.resource(Files.walk(Path.of("src/main")))(
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, "no sources under src/main")
    val found = files.flatMap { f =>
      val text = Files.readString(f)
      orphans(text).map(i => s"$f:${text.substring(0, i).count(_ == '\n') + 1}")
    }
    assert(found.isEmpty, s"scaladoc followed by another scaladoc at ${found.mkString(", ")}")
  }
}
