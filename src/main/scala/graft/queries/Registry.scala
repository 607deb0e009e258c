package graft.queries

import scala.collection.immutable.ListMap

/** One registered query: its DataFrame builder and what checks it. */
sealed trait Registration { def build: Build }

/** A query checked by its own DuckDB `oracle`: SQL over the testdata
  * tables whose result must equal `build`'s.
  */
final case class Query(build: Build, oracle: String) extends Registration

/** A streaming replay whose sink equals the result of the registered
  * batch query `batch`, so that query's oracle checks it too.
  */
final case class Twin(build: Build, batch: String) extends Registration

object Registry {

  /** Every family's registrations, in the order Verify and Bench run them. */
  val families: Seq[Seq[(String, Registration)]] = Seq(
    EodQueries.registry, TickQueries.registry, StreamingQueries.registry,
    RelQueries.registry, TextQueries.registry, CorpusQueries.registry,
    AnnQueries.registry, DedupQueries.registry, LayoutQueries.registry,
    EmbedQueries.registry, AsOfQueries.registry, EventsQueries.registry,
    StatsQueries.registry, SimQueries.registry, MmQueries.registry,
    SketchQueries.registry)

  /** (builders, oracle SQL) by name. Builders keep declaration order — a
    * hashed map reshuffled the whole run order whenever one query was
    * added. Each twin gets its batch query's SQL. Throws, naming it, on a
    * name registered twice or a twin whose batch query is not a [[Query]].
    */
  def assemble(families: Seq[Seq[(String, Registration)]])
      : (Map[String, Build], Map[String, String]) = {
    val all = families.flatten
    val twice = all.groupBy(_._1).collect { case (n, rs) if rs.size > 1 => n }
    require(twice.isEmpty, s"registered twice: ${twice.toSeq.sorted.mkString(", ")}")
    val sql = all.collect { case (n, Query(_, oracle)) => n -> oracle }.toMap
    val twins = all.collect { case (n, Twin(_, batch)) =>
      n -> sql.getOrElse(batch, throw new IllegalArgumentException(
        s"twin $n replays $batch, which is not a registered query"))
    }
    (ListMap.from(all.map { case (n, r) => n -> r.build }), sql ++ twins)
  }

  val (queries, oracleSql) = assemble(families)

  /** Throws, naming them, if any of `names` is not a registered query. */
  def requireRegistered(names: Iterable[String]): Unit = {
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
  }
}
