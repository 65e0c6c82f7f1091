package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

/** Distributed running total over an explicit TOTAL order — the shared
  * machinery behind vocabulary coverage cuts, token-budget corpus
  * selection, and any "take from the top until the budget is spent"
  * shape: range-partition on the order key, window-sum within partitions
  * in parallel, add each partition's broadcast prefix offset. The only
  * driver-side data is the numPartitions-row per-partition sums. The
  * partitions come from [[ScalableRank.pinned]]; the offsets are summed on
  * the driver rather than by [[ScalableRank.withOffsets]], because callers
  * need the grand total there.
  */
object RunningSum {

  /** df plus `as` = running total of `valueCol` (long) in `order`, and
    * the grand total. `order` must be total (append tiebreakers) or the
    * running value at ties is partition-dependent. */
  def withRunningSum(df: DataFrame, order: Seq[Column], valueCol: String,
      as: String = "cum"): (DataFrame, Long) = {
    require(order.nonEmpty, "running sum needs an explicit order")
    val spark = df.sparkSession
    import spark.implicits._
    val parted = ScalableRank.pinned(df, order, order)
    val w = Window.partitionBy(F.col("`$td.__pid`")).orderBy(order: _*)
    val sums = parted.groupBy(F.col("`$td.__pid`"))
      .agg(F.sum(valueCol).as("s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offs = sums.map { case (pid, s) => val o = acc; acc += s; (pid, o) }
    val offDf = offs.toSeq.toDF("$td.__pid", "$td.__off")
    val out = parted
      .withColumn("$td.__lcum", F.sum(F.col(valueCol)).over(w))
      .join(F.broadcast(offDf), Seq("$td.__pid"))
      .withColumn(as, F.col("`$td.__lcum`") + F.col("`$td.__off`"))
      .drop("$td.__pid", "$td.__lcum", "$td.__off")
    (out, acc)
  }

  /** Greedy budgeted selection: walk `df` in `order` and keep rows while
    * the running `costCol` total BEFORE the row is under `budget` — the
    * token-budget corpus-selection step (score the corpus, sort by
    * quality, fill the training budget from the top). The selected set
    * may overshoot by at most the last row's cost; rows keep their
    * columns plus the running total `cum` INCLUDING the row. */
  def selectByBudget(df: DataFrame, order: Seq[Column], costCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val (c, _) = withRunningSum(df, order, costCol)
    c.where((F.col("cum") - F.col(costCol)) < budget)
  }

  /** Per-group budgeted selection: each group independently fills its own
    * `budget` in `order` — "at most N tokens per domain/language", the
    * grouped form of [[selectByBudget]]. Keyed windows, one shuffle on
    * the group key, groups fill in parallel; rows keep their columns plus
    * the within-group running total `cum`. */
  def selectByBudgetPerGroup(df: DataFrame, groupCol: String,
      order: Seq[Column], costCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be > 0, got $budget")
    val w = Window.partitionBy(groupCol).orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn("cum", F.sum(F.col(costCol)).over(w))
      .where((F.col("cum") - F.col(costCol)) < budget)
  }
}
