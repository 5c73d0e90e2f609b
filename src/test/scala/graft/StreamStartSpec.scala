package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Every stream the engine runs must start through
  * `StreamOps.startStream`: that is where a query gets its state
  * partitions, the no-fork checkpoint manager, and the setting that lets
  * its tasks reuse the session's compiled classes. A query started
  * anywhere else silently loses all three, so this scans the engine's
  * sources for stream starts (`.start(` or `.toTable(`) in any file that
  * builds a stream writer, and fails on one outside `startStream`'s
  * body. A writer handed to a file that names neither `writeStream` nor
  * `DataStreamWriter` escapes the scan; the engine has none. */
class StreamStartSpec extends AnyFunSuite {

  private val Start = """\.(start|toTable)\(""".r

  /** `code` with comments blanked out, line breaks kept. */
  private def stripComments(code: String): String =
    """(?s)/\*.*?\*/|//[^\n]*""".r.replaceAllIn(code,
      m => java.util.regex.Matcher.quoteReplacement(
        m.matched.map(ch => if (ch == '\n') '\n' else ' ')))

  /** Offsets spanned by the braced body of `def name`, if there is one. */
  private def bodyOf(code: String, name: String): Option[Range] = {
    val at = code.indexOf(s"def $name")
    val open = if (at < 0) -1 else code.indexOf('{', at)
    if (open < 0) None else {
      var depth = 0
      val close = (open until code.length).find { i =>
        if (code(i) == '{') depth += 1
        else if (code(i) == '}') depth -= 1
        depth == 0
      }
      close.map(open to _)
    }
  }

  /** 1-based lines of the stream starts in `source` outside
    * `startStream`'s body. */
  private def unscopedStarts(source: String): Seq[Int] = {
    val code = stripComments(source)
    if (!code.contains("writeStream") && !code.contains("DataStreamWriter"))
      Nil
    else {
      val allowed = bodyOf(code, "startStream")
      Start.findAllMatchIn(code).map(_.start)
        .filterNot(i => allowed.exists(_.contains(i)))
        .map(i => code.substring(0, i).count(_ == '\n') + 1).toSeq
    }
  }

  test("the scan flags a stream start outside startStream, and only that") {
    val scoped =
      """object S {
        |  private def startStream(w: DataStreamWriter[_]) = {
        |    try w.start() finally ()
        |  }
        |  // df.writeStream.start() in a comment is no start
        |  def run(df: DataFrame) = startStream(df.writeStream.format("memory"))
        |}""".stripMargin
    assert(unscopedStarts(scoped).isEmpty)
    val stray = scoped.replace("def run(df: DataFrame) = startStream(",
      "def run(df: DataFrame) = (").replace("\"memory\"))", "\"memory\").start())")
    assert(unscopedStarts(stray) == Seq(6))
    assert(unscopedStarts(stray.replace(".start()", ".toTable(\"t\")")) == Seq(6))
    val noHelper = "object T { def go(df: DataFrame) = df.writeStream.start() }"
    assert(unscopedStarts(noHelper) == Seq(1))
    // a file that builds no stream writer is not scanned
    assert(unscopedStarts("object U { def go(t: Thread) = t.start() }").isEmpty)
  }

  test("every stream in src/main/scala starts through StreamOps.startStream") {
    val files = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }
    val sources = files.map(f => f -> Files.readString(f))
    val streamOps = sources.collectFirst {
      case (f, s) if f.endsWith("StreamOps.scala") => stripComments(s)
    }
    assert(streamOps.exists(s => bodyOf(s, "startStream")
      .exists(r => Start.findAllMatchIn(s).exists(m => r.contains(m.start)))),
      "StreamOps.startStream no longer starts the stream it is given")
    val stray = sources.flatMap { case (f, s) =>
      unscopedStarts(s).map(line => s"$f:$line")
    }
    assert(stray.isEmpty, s"streams started outside startStream: $stray")
  }
}
