package graft

import org.apache.spark.sql.SparkSession

/** graft's SQL functions installed the way `spark.sql.extensions=
  * graft.GraftExtensions` installs them, on a session that never called
  * `Graft.register`.
  */
class GraftExtensionsSpec extends SparkSpec {

  /** A second session over the fixture's SparkContext, built with the
    * extensions; the fixture stays the default and active session.
    */
  private lazy val ext: SparkSession = {
    val base = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions).getOrCreate()
    finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  /** The message of `e` or of any exception it wraps. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  test("t_cdf and word_shingles resolve through the extensions") {
    assert(ext ne spark)
    val p = ext.sql("SELECT t_cdf(0.0, 10.0)").head().getDouble(0)
    assert(math.abs(p - 0.5) < 1e-12)
    val sh = ext.sql("SELECT word_shingles('a b c d', 3)").head().getSeq[String](0)
    assert(sh == Seq("a b c", "b c d"))
  }

  test("a width that is not an integer literal gets intLit's error") {
    for (width <- Seq("w", "3L")) {
      val e = intercept[Exception] {
        ext.sql(s"SELECT word_shingles(t, $width) FROM VALUES ('a b c', 2) AS v(t, w)")
          .collect()
      }
      assert(messages(e).contains("word_shingles width must be an integer literal"),
        messages(e))
    }
  }
}
