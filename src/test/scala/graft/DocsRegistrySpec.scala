package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Docs/registry drift guard (no SparkSession): every backticked
  * query name in the last column of a docs/api markdown table headed
  * `oracle key` must be a registered query with an oracle, and no page
  * cites a source line number.
  */
class DocsRegistrySpec extends AnyFunSuite {
  private val Key = "`([a-z][a-z0-9_]*)`".r

  /** Cells of one markdown table row; `\|` inside a cell is text. */
  private def cells(row: String): Seq[String] =
    row.trim.stripPrefix("|").stripSuffix("|").split("""(?<!\\)\|""")
      .map(_.trim).toSeq

  /** (file name, lines) of every docs/api markdown page. */
  private def pages: Seq[(String, Seq[String])] =
    Files.list(Paths.get("docs/api")).iterator.asScala
      .filter(_.toString.endsWith(".md")).toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllLines(p).asScala.toSeq)

  /** (file, key) for every key in an `oracle key` column. */
  private def documentedKeys: Seq[(String, String)] =
    pages.flatMap { case (file, lines) =>
      // runs of consecutive table lines
      val tables = lines.foldRight(List(List.empty[String])) { (l, acc) =>
        if (l.trim.startsWith("|")) (l :: acc.head) :: acc.tail
        else if (acc.head.isEmpty) acc
        else Nil :: acc
      }.filter(_.nonEmpty)
      tables.filter(t => cells(t.head).lastOption.contains("oracle key"))
        .flatMap(_.drop(2)) // header and |---| separator
        .flatMap(row => Key.findAllMatchIn(cells(row).last).map(_.group(1)))
        .map(file -> _)
    }

  test("every documented oracle key is a registered query with an oracle") {
    val keys = documentedKeys
    assert(keys.nonEmpty)
    val (queries, oracles) = (SparkEntry.queries.keySet, SparkEntry.oracleSql.keySet)
    val missing = keys.filterNot { case (_, k) =>
      queries.contains(k) && oracles.contains(k)
    }
    assert(missing.isEmpty, missing.map { case (f, k) => s"$f: $k" }.mkString("\n"))
  }

  test("no docs/api page cites a source line number") {
    // `Foo.scala:42` or `(:42)` drifts with every edit above the line;
    // a page names the function instead. A bare `:42` counts too; a
    // reference-repo anchor (`flow.py:88`) does not drift with graft.
    val Anchor = """\.scala:\d+|(?<![\w.]):\d+""".r
    val hits = for {
      (file, lines) <- pages
      (line, i) <- lines.zipWithIndex
      m <- Anchor.findAllIn(line)
    } yield s"$file:${i + 1}: $m"
    assert(pages.nonEmpty)
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
