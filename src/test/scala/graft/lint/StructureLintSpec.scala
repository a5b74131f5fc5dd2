package graft.lint

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** Operator state has one home: `graft.ext.Memo`. Session-keyed memo
  * maps, per-family `clearMemos` hooks and the retired persist registry
  * must not reappear elsewhere in the main sources. Nor may Hadoop's
  * `listFiles`, whose per-file `LocatedFileStatus` forks an `ls -ld` on
  * a local file system without libhadoop. */
class StructureLintSpec extends AnyFunSuite {

  private val MemoFile = "Memo.scala"

  /** Session-keyed maps that are deliberately not operator memos:
    * Streams' events-family result lives and dies with the bounded
    * memory sink that holds it (`Streams.dropBoundedSinks` drops both). */
  private val allowedSessionMaps = Map("Streams.scala" -> 1)

  private def sources(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) sources(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  private lazy val mainSources: Seq[(File, String)] = {
    val files = sources(new File("src/main/scala"))
    assert(files.nonEmpty, "main sources not found from the working dir")
    files.map { f =>
      val s = scala.io.Source.fromFile(f, "UTF-8")
      try f -> s.mkString finally s.close()
    }
  }

  private def count(text: String, needle: String): Int =
    scala.util.matching.Regex.quote(needle).r.findAllMatchIn(text).size

  test("no session-keyed TrieMap outside Memo") {
    val bad = mainSources.collect {
      case (f, text) if f.getName != MemoFile &&
          count(text, "TrieMap[(SparkSession") >
            allowedSessionMaps.getOrElse(f.getName, 0) => f.getPath
    }
    assert(bad.isEmpty, s"memoize through graft.ext.Memo instead: $bad")
  }

  test("no clearMemos hook outside Memo; the cold sweep is Memo.clearAll") {
    val bad = mainSources.collect {
      case (f, text) if f.getName != MemoFile &&
          text.contains("def clearMemos") => f.getPath
    }
    assert(bad.isEmpty, s"per-family clearMemos in $bad")
  }

  test("TrackedPersist is gone") {
    val bad = mainSources.collect {
      case (f, text) if text.contains("TrackedPersist") => f.getPath
    }
    assert(bad.isEmpty, s"TrackedPersist mentioned in $bad")
  }

  test("no Hadoop listFiles in the main sources") {
    // Hadoop's listFiles(path, recursive) takes arguments;
    // java.io.File.listFiles() does not
    val hadoopListFiles = """\.listFiles\(\s*[^)\s]""".r
    val bad = mainSources.collect {
      case (f, text) if hadoopListFiles.findFirstIn(text).isDefined =>
        f.getPath
    }
    assert(bad.isEmpty, s"sum or walk with listStatus instead: $bad")
  }
}
