package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{Column, DataFrame, SparkSession, functions => F}

/** A TPC-H-shaped `orders` table generated from the seed, written as
  * parquet once per run. The same seed gives the same rows: every value is a
  * function of (seed, row number) through `xxhash64`. Money columns are
  * decimals, so every aggregate the workloads compute is exact and the
  * order-independent digests below compare bit for bit.
  *
  * `orders` carries `idx` (0 until rows): the publishers select their next
  * batch by it, and it is dropped before the rows reach the store. */
final class Inputs(spark: SparkSession, dir: Path, seed: Long, val orderRows: Int) {
  val ordersPath: String = dir.resolve("orders").toString

  private def h(salt: Int): Column = F.xxhash64(F.lit(seed), F.col("id"), F.lit(salt))
  private def pick(salt: Int, n: Long): Column = F.pmod(h(salt), F.lit(n))
  private def money(salt: Int, maxCents: Long): Column =
    (pick(salt, maxCents) / 100).cast("decimal(12,2)")
  private def oneOf(salt: Int, xs: String*): Column =
    F.element_at(F.array(xs.map(F.lit): _*), (pick(salt, xs.length.toLong) + 1).cast("int"))
  private def day(salt: Int, from: String, span: Int): Column =
    F.date_add(F.lit(from).cast("date"), pick(salt, span.toLong).cast("int"))
  private def text(salt: Int): Column =
    F.substring(F.sha2(h(salt).cast("string"), 256), 1, 12) // 12 hex chars

  def generate(): Unit = {
    spark.range(orderRows.toLong).select(
      F.col("id").as("idx"),
      (F.col("id") * 4 + 1).as("o_orderkey"),
      (pick(1, 15000) + 1).as("o_custkey"),
      oneOf(2, "F", "O", "P").as("o_orderstatus"),
      money(3, 50000000L).as("o_totalprice"),
      day(4, "1992-01-01", 2406).as("o_orderdate"),
      oneOf(5, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"),
      F.concat(F.lit("Clerk#"), F.lpad((pick(6, 1000) + 1).cast("string"), 9, "0"))
        .as("o_clerk"),
      F.lit(0).as("o_shippriority"),
      text(7).as("o_comment"))
      .write.parquet(ordersPath)
  }

  def orders: DataFrame = spark.read.parquet(ordersPath)

  /** Orders rows of batch `b` (batches of `size` rows, wrapping at the end
    * of the table; `orderRows` is a multiple of every batch size used). */
  def batch(b: Long, size: Int): DataFrame = {
    val lo = (b * size) % orderRows
    orders.where(F.col("idx") >= lo && F.col("idx") < lo + size).drop("idx")
  }

  /** Rows of several batches, each tagged with the `seq` it belongs to:
    * `batches` maps seq → batch numbers. One plan instead of one per seq. */
  def batchesBySeq(batches: Seq[(Long, Long)], size: Int): DataFrame = {
    import spark.implicits._
    val bounds = batches.map { case (seq, b) => (seq, (b * size) % orderRows) }
      .toDF("seq", "lo")
    orders.join(F.broadcast(bounds),
      F.col("idx") >= F.col("lo") && F.col("idx") < F.col("lo") + size)
      .drop("idx", "lo")
  }
}

/** The transforms the workloads' functions run. Each groups by `by` first,
  * so the correctness check can compute every trigger's expected output in
  * one plan (`by = Seq("seq")`) with the very code the flow runs
  * (`by = Nil`). */
object Plans {
  private def cols(names: Seq[String]): Seq[Column] = names.map(F.col)

  def byDay(df: DataFrame, by: Seq[String] = Nil): DataFrame =
    df.groupBy(cols(by :+ "o_orderdate"): _*)
      .agg(F.count(F.lit(1)).as("orders"), F.sum("o_totalprice").as("revenue"))

  def byStatus(df: DataFrame, by: Seq[String] = Nil): DataFrame =
    df.groupBy(cols(by ++ Seq("o_orderstatus", "o_orderpriority")): _*)
      .agg(F.count(F.lit(1)).as("orders"), F.sum("o_totalprice").as("revenue"),
        F.max("o_orderkey").as("max_orderkey"))

  def byPriority(df: DataFrame, by: Seq[String] = Nil): DataFrame =
    df.groupBy(cols(by :+ "o_orderpriority"): _*)
      .agg(F.count(F.lit(1)).as("orders"), F.sum("o_totalprice").as("revenue"))
}

/** Order-independent digest of a frame's rows. */
final case class Digest(rows: Long, sumLow: Long, xor: Long)

object Digest {
  /** Digest per value of `key` over every other column. */
  def byKey(df: DataFrame, key: String): Map[Long, Digest] = {
    val h = F.xxhash64(df.columns.filter(_ != key).map(c => F.col(s"`$c`")).toIndexedSeq: _*)
    df.select(F.col(key).cast("long").as("k"), h.as("h"))
      .groupBy("k")
      .agg(F.count(F.lit(1)), F.sum(F.col("h").bitwiseAND(0xffffffffL)), F.bit_xor(F.col("h")))
      .collect().map(r => r.getLong(0) -> Digest(r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
  }
}
