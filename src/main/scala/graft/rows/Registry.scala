package graft.rows

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One row of the driver contract: a Spark plan and the DuckDB SQL over
  * the same parquet tables that must return the same rows. The oracle is
  * by-name and built on first read, so looking a plan up never builds SQL.
  */
final class Row(val name: String,
                val run: (SparkSession, String) => DataFrame,
                oracle: => String) {
  lazy val oracleSql: String = oracle
}

object Row {
  def apply(name: String, run: (SparkSession, String) => DataFrame,
            oracleSql: => String): Row = new Row(name, run, oracleSql)
}

/** Every row, declared once in its family's file. */
object Registry {

  /** Each family file's rows, under the name prefix all of them carry. */
  val families: Seq[(String, Seq[Row])] = Seq(
    "q" -> QRows.rows,
    "dam_" -> DamRows.rows,
    "ev_" -> EvRows.rows,
    "doc_" -> DocRows.rows,
    "doc_" -> DocCurationRows.rows,
    "emb_" -> EmbRows.rows,
    "media_" -> MediaRows.rows)

  /** Rows by name; fails, naming it, on a name declared twice. */
  def byName(rows: Seq[Row]): Map[String, Row] = {
    rows.groupBy(_.name).collectFirst { case (n, rs) if rs.size > 1 => n }
      .foreach(n => throw new IllegalArgumentException(s"duplicate row name: $n"))
    rows.map(r => r.name -> r).toMap
  }

  private lazy val rows = byName(families.flatMap(_._2))

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    rows.map { case (n, r) => n -> r.run }

  lazy val oracleSql: Map[String, String] =
    rows.map { case (n, r) => n -> r.oracleSql }
}
