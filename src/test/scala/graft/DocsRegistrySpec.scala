package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Docs/registry drift guard (no SparkSession): every backticked
  * query name in the last column of a docs/api markdown table headed
  * `oracle key` must be a registered query with an oracle.
  */
class DocsRegistrySpec extends AnyFunSuite {
  private val Key = "`([a-z][a-z0-9_]*)`".r

  /** Cells of one markdown table row; `\|` inside a cell is text. */
  private def cells(row: String): Seq[String] =
    row.trim.stripPrefix("|").stripSuffix("|").split("""(?<!\\)\|""")
      .map(_.trim).toSeq

  /** (file, key) for every key in an `oracle key` column. */
  private def documentedKeys: Seq[(String, String)] = {
    val docs = Files.list(Paths.get("docs/api")).iterator.asScala
      .filter(_.toString.endsWith(".md")).toSeq.sortBy(_.toString)
    docs.flatMap { path =>
      val lines = Files.readAllLines(path).asScala.toSeq
      // runs of consecutive table lines
      val tables = lines.foldRight(List(List.empty[String])) { (l, acc) =>
        if (l.trim.startsWith("|")) (l :: acc.head) :: acc.tail
        else if (acc.head.isEmpty) acc
        else Nil :: acc
      }.filter(_.nonEmpty)
      tables.filter(t => cells(t.head).lastOption.contains("oracle key"))
        .flatMap(_.drop(2)) // header and |---| separator
        .flatMap(row => Key.findAllMatchIn(cells(row).last).map(_.group(1)))
        .map(path.getFileName.toString -> _)
    }
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
}
