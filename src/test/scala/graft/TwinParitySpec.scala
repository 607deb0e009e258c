package graft

import org.apache.spark.sql.{DataFrame, Row}

import graft.queries.{Registry, Twin}

/** Every streaming [[Twin]] in the registry equals its batch query at
  * sf0.001: the same columns and types in the same order, and the same
  * rows once sorted. Nullability is not compared: the replay re-reads
  * its sink from parquet, where every column comes back nullable.
  */
class TwinParitySpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val twins = Registry.families.flatten.collect {
    case (name, Twin(_, batch)) => name -> batch
  }

  private def columns(df: DataFrame) =
    df.schema.fields.toSeq.map(f => f.name -> f.dataType)

  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toString)

  twins.foreach { case (twin, batch) =>
    test(s"$twin replays $batch: schema and sorted rows") {
      val b = SparkEntry.queries(batch)(spark, dir)
      val t = SparkEntry.queries(twin)(spark, dir)
      assert(columns(t) == columns(b))
      val (tr, br) = (sortedRows(t), sortedRows(b))
      assert(br.nonEmpty, s"$batch is empty at $dir")
      assert(tr == br)
    }
  }
}
