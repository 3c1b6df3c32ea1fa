package graft

import graft.engine.Tables
import org.apache.spark.sql.functions._

/** The planted documents fixtures ([[Fixtures]]): each is declared once,
  * its Spark frame and its DuckDB relation follow one rendering rule,
  * and the build stamps of the artifacts materialized from it name
  * class files that exist. */
class FixturesSpec extends SparkSpec {

  test("n_chars equals Spark char_length on every planted row") {
    Fixtures.all.foreach { f =>
      val planted = f.planted(spark)
        .select(col("doc_id"), col("n_chars"), char_length(col("text")))
        .collect()
      assert(planted.length == f.rows.size, f.tag)
      planted.foreach { r =>
        assert(r.getLong(1) == r.getInt(2).toLong, s"${f.tag} doc ${r.getLong(0)}")
      }
    }
  }

  test("planted doc_ids are distinct per fixture and above every corpus id") {
    val corpusMax = Tables.documents(spark, sf).agg(max(col("doc_id")))
      .head().getLong(0)
    assert(Fixtures.all.map(_.tag).distinct.size == Fixtures.all.size)
    Fixtures.all.foreach { f =>
      val ids = f.rows.map(_._1)
      assert(ids.distinct.size == ids.size, f.tag)
      assert(ids.min > corpusMax, f.tag)
    }
  }

  test("an apostrophe, a newline and an astral character render exactly") {
    val f = Fixtures.Fixture("t", Seq((1L, "it's\n🚀 go", "en", "planted_t")))
    assert(f.sql == "SELECT * FROM documents UNION ALL SELECT * FROM (VALUES " +
      "(1, 'it''s' || chr(10) || '🚀 go', 'en', 'planted_t', 9))" +
      " AS v(doc_id, text, lang, source, n_chars)")
    val row = f.df(spark, sf).filter(col("doc_id") === 1L && col("source") === "planted_t")
      .select(col("n_chars"), char_length(col("text"))).head()
    assert(row.getLong(0) == 9L && row.getInt(1) == 9)
  }

  test("every resource in the fixture build stamps is on the classpath") {
    // Artifacts.classStamp skips a missing resource silently, so a stale
    // name would freeze fixture inputs materialized under the old rows
    (Fixtures.buildStamp ++ queries.WebIngest.boilerplateStamp).foreach { r =>
      assert(getClass.getResource(r) != null, r)
    }
  }
}
