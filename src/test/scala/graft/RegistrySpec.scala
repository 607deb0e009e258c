package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries._

/** The query registry's assembly rules and the mains' name checks, with
  * no SparkSession.
  */
class RegistrySpec extends AnyFunSuite {
  private val noBuild: Build = (_, _) => throw new UnsupportedOperationException

  /** Each family with the name prefixes it holds: the family is the
    * prefix, and a prefix with fewer than five queries joins a neighbour.
    */
  private val prefixes: Seq[(Seq[(String, Registration)], Set[String])] = Seq(
    EodQueries.registry -> Set("eod"),
    TickQueries.registry -> Set("tick", "quote", "df"),
    StreamingQueries.registry -> Set("streaming"),
    RelQueries.registry -> Set("rel", "skew", "window", "range"),
    TextQueries.registry -> Set("text"),
    CorpusQueries.registry -> Set("corpus", "pipeline"),
    AnnQueries.registry -> Set("ann"),
    DedupQueries.registry -> Set("dedup"),
    LayoutQueries.registry -> Set("layout"),
    EmbedQueries.registry -> Set("embed"),
    AsOfQueries.registry -> Set("asof"),
    EventsQueries.registry -> Set("events", "sessionize"),
    StatsQueries.registry -> Set("stats"),
    SimQueries.registry -> Set("sim"),
    MmQueries.registry -> Set("mm"),
    SketchQueries.registry -> Set("sketch"))

  test("a name registered by two families fails the assembly and is named") {
    val e = intercept[IllegalArgumentException](Registry.assemble(Seq(
      Seq("dup_query" -> Query(noBuild, "SELECT 1")),
      Seq("dup_query" -> Query(noBuild, "SELECT 2")))))
    assert(e.getMessage.contains("dup_query"), e.getMessage)
  }

  test("a twin of an unregistered batch query fails the assembly") {
    val e = intercept[IllegalArgumentException](Registry.assemble(Seq(
      Seq("streaming_x" -> Twin(noBuild, batch = "no_such_batch")))))
    assert(e.getMessage.contains("no_such_batch"), e.getMessage)
  }

  test("every registered name sits in the family its prefix names") {
    assert(prefixes.size == Registry.families.size &&
      prefixes.forall { case (r, _) => Registry.families.exists(_ eq r) })
    val misplaced = for {
      (registry, ps) <- prefixes
      (name, _) <- registry
      if !ps.contains(name.takeWhile(_ != '_'))
    } yield name
    assert(misplaced.isEmpty, misplaced.mkString(", "))
    assert(SparkEntry.queries.size == 404)
    assert(SparkEntry.oracleSql.keySet == SparkEntry.queries.keySet)
  }

  test("every streaming twin names a registered batch query") {
    val all = Registry.families.flatten
    val batch = all.collect { case (n, _: Query) => n }.toSet
    val twins = all.collect { case (n, Twin(_, b)) => n -> b }
    assert(twins.nonEmpty)
    twins.foreach { case (n, b) =>
      assert(n.startsWith("streaming_") && batch.contains(b), s"$n -> $b")
      assert(SparkEntry.oracleSql(n) == SparkEntry.oracleSql(b), n)
    }
  }

  test("Verify and Tool reject an unknown query name before building a session") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-verify")
    val out = tmp.resolve("out")
    val e = intercept[IllegalArgumentException](Verify.main(Array(
      tmp.resolve("sf").toString, out.toString, "eod_returns,no_such_query")))
    assert(e.getMessage.contains("no_such_query") && !e.getMessage.contains("eod_returns"),
      e.getMessage)
    assert(!java.nio.file.Files.exists(out))
    for (args <- Seq(Array("time", "no_such_query"),
        Array("explain", tmp.toString, "no_such_query"),
        Array("audit", tmp.resolve("audit.tsv").toString, "no_such_query"))) {
      val t = intercept[IllegalArgumentException](Tool.main(args))
      assert(t.getMessage.contains("no_such_query"), args.mkString(" "))
    }
  }
}
