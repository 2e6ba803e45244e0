import org.apache.spark.sql.{DataFrame, SparkSession}

package object graft {

  /** A registered query: (session, testdata dir) → result. Every module's
    * `queries` map and [[SparkEntry.queries]] are keyed to this type. */
  type Q = (SparkSession, String) => DataFrame

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
