package lakebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

/** The expected lake state of a changelog, computed with plain Spark and
  * nothing from the engine's merge path: the last event per key by `_lsn`
  * wins, deletes remove the key, and `tool_meta` (added mid-stream) reads
  * as null where a segment predates it. */
object Oracle {

  val keyCols = Seq("conv_id", "turn_idx")
  val businessCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")

  /** Live rows implied by `events` (a changelog read with mergeSchema). */
  def expected(events: DataFrame): DataFrame = {
    val valid = events.filter(col("conv_id").isNotNull && col("turn_idx").isNotNull &&
      col("_lsn").isNotNull && col("op").isin("I", "U", "D"))
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col("_lsn").desc)
    business(valid.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col("op") =!= "D"))
  }

  /** The business columns, null-filling any the frame lacks. */
  def business(df: DataFrame): DataFrame =
    df.select(businessCols.map { c =>
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(if (c == "turn_idx") "int" else "string").as(c)
    }: _*)

  /** (row count, order-independent hash sum) of the business columns. */
  def checksum(df: DataFrame): (Long, BigDecimal) = resultHash(business(df))

  /** 64-bit hash of every column of a row; maps (which Spark cannot hash)
    * hash through their JSON form, timestamps through epoch micros. */
  def rowHash(df: DataFrame): Column =
    xxhash64(df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case _: MapType => to_json(col(f.name))
        case org.apache.spark.sql.types.TimestampType => unix_micros(col(f.name))
        case _ => col(f.name)
      }
    }: _*)

  /** Order-independent hash of a whole result: (rows, sum of row hashes). */
  def resultHash(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(rowHash(df).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }

  /** Top-10 AND search by brute force over the live rows: documents holding
    * every query term, scored by total term frequency, ties by key. */
  def bruteSearch(live: DataFrame, terms: Seq[String]): Seq[(String, Int, Long)] = {
    val words = live.select(col("conv_id"), col("turn_idx"),
      explode(split(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9\\s]", " "), "\\s+", " ")), " ")).as("w"))
    words.filter(col("w").isin(terms: _*))
      .groupBy("conv_id", "turn_idx")
      .agg(countDistinct("w").as("n"), count(lit(1)).as("score"))
      .filter(col("n") === terms.distinct.size)
      .orderBy(col("score").desc, col("conv_id"), col("turn_idx"))
      .select("conv_id", "turn_idx", "score")
      .limit(10).collect()
      .map(x => (x.getString(0), x.getInt(1), x.getLong(2)))
      .toSeq
  }
}
