package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A query result's row count, an order-insensitive hash of its rows and
  * its column names. Stored one query a line: name, rows, hash, columns,
  * separated by tabs. */
final case class Fingerprint(rows: Long, hash: String, columns: String) {
  override def toString: String = s"rows=$rows hash=$hash columns=$columns"
}

object Fingerprint {
  private val header =
    "# query\trows\thash\tcolumns — written by `run.py --record`; see DESIGN.md"

  /** Computes a result's fingerprint: the hash is the sum of each row's
    * xxhash64, so row order does not matter and duplicate rows count. */
  def of(df: DataFrame): Fingerprint = {
    def hasMap(t: DataType): Boolean = t match {
      case _: MapType => true
      case a: ArrayType => hasMap(a.elementType)
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case _ => false
    }
    // Positional names, so duplicate or odd column names hash alike.
    val cols = df.schema.fields.toSeq.zipWithIndex.map { case (f, i) =>
      val c = df.col(s"`${f.name.replace("`", "``")}`")
      (if (hasMap(f.dataType)) to_json(struct(c)) else c).as(s"c$i")
    }
    val row = df.select(cols: _*)
      .select(xxhash64(cols.indices.map(i => col(s"c$i")): _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))))
      .head()
    Fingerprint(row.getLong(0),
      Option(row.getDecimal(1)).map(_.toString).getOrElse("0"),
      df.columns.mkString(","))
  }

  def load(file: String): Map[String, Fingerprint] =
    Files.readAllLines(Paths.get(file), UTF_8).asScala
      .filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
        val Array(q, rows, hash, cols) = l.split('\t')
        q -> Fingerprint(rows.toLong, hash, cols)
      }.toMap

  def save(file: String, fps: Map[String, Fingerprint]): Unit = {
    val old = if (Files.exists(Paths.get(file))) load(file) else Map.empty
    val lines = (old ++ fps).toSeq.sortBy(_._1).map { case (q, f) =>
      s"$q\t${f.rows}\t${f.hash}\t${f.columns}" }
    Files.write(Paths.get(file),
      (header +: lines).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
