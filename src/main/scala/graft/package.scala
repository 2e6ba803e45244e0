import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {

  /** A query program: (session, testdata dir) → result. */
  type Q = (SparkSession, String) => DataFrame

  /** A registered query: its name, its program, and the DuckDB SQL that
    * computes the same rows over the same parquet tables, with identical
    * column aliases. Each module lists its own in `queries`;
    * [[SparkEntry.registry]] joins them. `build` is defined inside its
    * module's object, so a caller can tell the module from its class. */
  final case class Query(name: String, build: Q, oracle: String)

  /** Run `body` with the session confs `kvs` set, then put every key
    * back as it was — its previous explicit value, or unset if it had
    * none — including when `body` throws. The one place an operator
    * changes a session conf: a query runs under the caller's settings
    * and must leave them as it found them. Scoped, not isolated: a
    * query running concurrently on the same session sees the values
    * while `body` runs. */
  def withConf[A](s: SparkSession, kvs: (String, String)*)(body: => A): A = {
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
