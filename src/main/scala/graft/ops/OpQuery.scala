package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.DecimalType

/** One operator of the engine's public query surface (SURVEY.md §2): a name,
  * a Spark DataFrame implementation, and (when ANSI-SQL-expressible) an
  * equivalent DuckDB SQL oracle over the same parquet tables.
  *
  * Oracle-parity rules (the driver hash-compares values):
  *   - identical column names and order-independent deterministic row sets;
  *   - no floating-point value that is not either (a) a raw column passthrough,
  *     (b) derived from exact integer/decimal sums by the same IEEE expression
  *     shape on both sides, or (c) rounded after such derivation;
  *   - money/measure sums go through DECIMAL(18,2) (exact, associative) and
  *     are cast to DOUBLE only at the end.
  */
final case class Op(
    name: String,
    doc: String,
    oracle: Option[String],
    run: (SparkSession, String) => DataFrame)

object Op {
  /** The single source-table resolver every registry op and the index
    * build resolve their scans through — THE Iceberg swap point. Parquet
    * stands in because the zero-egress sandbox ships no Iceberg jar; on a
    * real deployment the swap is the one line of `parquet`, e.g.
    * `s.read.table(s"$dir.$name")`.
    * SourceReaderSpec keeps the claim mechanically true: it swaps in a
    * resolver for a virtual (nonexistent) dir via [[withReader]] and runs
    * one op per family — any scan bypassing this hook dies on the missing
    * path. */
  @volatile private var reader: (SparkSession, String, String) => DataFrame = parquet
  private def parquet(s: SparkSession, dir: String, name: String): DataFrame = s.read.parquet(s"$dir/$name.parquet")

  /** Runs `body` with `fn` as the resolver, then restores the parquet one. */
  private[graft] def withReader[T](fn: (SparkSession, String, String) => DataFrame)(body: => T): T =
    try { reader = fn; body } finally reader = parquet

  /** Table reader: parquet by convention `dir/name.parquet`. */
  def t(s: SparkSession, dir: String, name: String): DataFrame =
    reader(s, dir, name)

  /** Exact money arithmetic: DECIMAL(18,2) (sums stay exact and associative,
    * unlike double, so Spark's and DuckDB's aggregation orders agree). */
  def dec2(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Join rank-tagged strings in ascending rank order — matches DuckDB's
    * `string_agg(x, ',' ORDER BY rk)` regardless of collect_list's
    * partition-arrival order. Input rows are (rk: Int, value: String). */
  val sortTopUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udf((xs: Seq[org.apache.spark.sql.Row]) =>
      xs.map(r => (r.getInt(0), r.getString(1))).sortBy(_._1).map(_._2).mkString(","))
}
