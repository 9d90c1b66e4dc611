package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its DataFrame over a session and a data
  * directory, and the DuckDB SQL whose result it must equal. The oracle is
  * built on each read, so touching the registry builds no SQL; it is None
  * only for a rows-only query (no SQL analogue: only its rows are checked).
  */
final class Query private[queries] (
    val name: String,
    val build: (SparkSession, String) => DataFrame,
    sql: Option[() => String]) {
  def oracle: Option[String] = sql.map(_())
}

/** A family of queries: each `query` or `rowsOnly` call in the object's
  * body registers one query, in declaration order, as the object
  * initializes.
  */
abstract class Family {
  private val registered = scala.collection.mutable.ArrayBuffer.empty[Query]

  def all: Seq[Query] = registered.toSeq

  protected def query(name: String)(build: (SparkSession, String) => DataFrame)(
      oracle: => String): Query =
    register(new Query(name, build, Some(() => oracle)))

  protected def rowsOnly(name: String)(build: (SparkSession, String) => DataFrame): Query =
    register(new Query(name, build, None))

  private def register(q: Query): Query = { registered += q; q }
}
