package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** A scaladoc block documents the definition right after it. A block
  * followed, through whitespace only, by another block documents
  * nothing: it has come loose from the definition it was written for.
  */
class ScaladocSpec extends AnyFunSuite {

  test("the detached-doc scan flags a block followed by another block") {
    val seeded =
      """object X {
        |  /** loose: written for `a` */
        |
        |  /** documents `b` */
        |  def b = 1
        |
        |  /** documents `a` */
        |  def a = 2
        |}""".stripMargin
    assert(ScaladocSpec.detachedLines(seeded) == Seq(2))
    assert(ScaladocSpec.detachedLines(seeded.replace("/** loose", "/* loose"))
      .isEmpty)
  }

  test("no src/main scaladoc block is followed directly by another") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, "src/main not found from the working directory")
    val hits = for {
      f <- files
      line <- ScaladocSpec.detachedLines(Files.readString(f))
    } yield s"$f:$line"
    assert(hits.isEmpty,
      s"scaladoc blocks followed by another block: ${hits.mkString(", ")}")
  }
}

object ScaladocSpec {

  /** 1-based line of every scaladoc block that is followed only by
    * whitespace and then another scaladoc block.
    */
  def detachedLines(src: String): Seq[Int] = {
    val out = Seq.newBuilder[Int]
    var start = src.indexOf("/**")
    while (start >= 0) {
      val end = src.indexOf("*/", start + 3)
      if (end < 0) start = -1
      else {
        var next = end + 2
        while (next < src.length && src.charAt(next).isWhitespace) next += 1
        if (src.startsWith("/**", next))
          out += src.substring(0, start).count(_ == '\n') + 1
        start = src.indexOf("/**", end + 2)
      }
    }
    out.result()
  }
}
