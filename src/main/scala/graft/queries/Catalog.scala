package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability demonstrated end-to-end on the test tables.
  *
  * @param build  the query's builder; callers go through [[spark]].
  * @param oracle ANSI SQL for DuckDB over the same parquet tables, producing
  *               a result that hash-matches `spark` (columns sorted by name
  *               before hashing — so every computed column is aliased
  *               identically on both sides). None → rows-only check
  *               (non-SQL-expressible ops, e.g. custom hash expressions).
  */
final case class Q(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    doc: String = "") {

  /** The query on `s` over the tables in `dir`. Installs graft into `s`
    * first ([[graft.functions.GraftFunctions.register]], idempotent), so
    * a plan never depends on which queries ran earlier in the session. */
  def spark(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    build(s, dir)
  }
}

/** Full query catalog = the executable form of SURVEY.md §2's operator
  * inventory plus the large-scale training-data-pipeline operators.
  */
object Catalog {
  lazy val all: Seq[Q] =
    CoreQueries.all ++ JoinQueries.all ++ WindowQueries.all ++
      SetQueries.all ++ ScalarQueries.all ++ TextQueries.all ++
      DedupQueries.all ++ SliceQueries.all ++
      SimilarityQueries.all ++ CurationQueries.all ++
      PipelineQueries.all ++
      FunctionQueries.all ++ MlQueries.all ++ MiscQueries.all ++
      GoldQueries.all ++ SourceQueries.all ++ ViewQueries.all ++
      BronzeQueries.all

  lazy val byName: Map[String, Q] = {
    val m = all.map(q => q.name -> q).toMap
    require(m.size == all.size, "duplicate query names in Catalog")
    m
  }
}
