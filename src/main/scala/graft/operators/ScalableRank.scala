package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.LongType

/** Distributed whole-column rank without a single-reducer global window.
  *
  * `Expr.rank` matches the reference's semantics with `Window.orderBy(col)`
  * — correct, but Spark executes an unpartitioned window on ONE task. This
  * is the 100 TB formulation:
  *
  *  1. range-repartition by the rank key (equal keys land in one partition,
  *     so ties never straddle partition boundaries);
  *  2. rank within each partition (parallel windows);
  *  3. one tiny aggregate of per-partition row counts → cumulative offsets,
  *     broadcast back;
  *  4. global rank = partition offset + within-partition rank.
  *
  * The only global data movement is the range shuffle Spark would need for
  * any total ordering; the offsets table is `numPartitions` rows.
  */
object ScalableRank {
  /** Append a global rank column. Methods: min | dense | ordinal.
    * For `ordinal`, supply deterministic `tiebreakers` to fix an order on
    * equal keys (otherwise ties get an arbitrary stable-per-run order). */
  def withRank(df: DataFrame, key: String, as: String = "rank",
      method: String = "min", descending: Boolean = false,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    val keyCol = if (descending) F.col(key).desc else F.col(key).asc
    val tiebreak = tiebreakers.map(F.col)
    // min/dense: ties MUST share a partition → range-partition by key alone;
    // ordinal orders ties too, so tiebreakers may join the partitioner.
    // The directional column steers the range partitioner so partition ids
    // follow the requested global order for descending ranks as well.
    val partCols =
      if (method == "ordinal") keyCol +: tiebreak.map(_.asc) else Seq(keyCol)
    // localCheckpoint: the pid-tagged relation feeds TWO plan branches
    // (the rank join and the offsets aggregate). Without materialization
    // each branch re-executes its own range exchange, and the range
    // partitioner samples bounds with an RDD-id-derived seed — identical
    // on small data, divergent at scale, which would pair offsets with the
    // wrong partitions. One materialized execution pins the pids. (Keys
    // here can be any orderable type, so the quantile-split trick
    // Packing.packByBudget uses for numeric ids does not apply.)
    val parted = df
      .repartitionByRange(partCols: _*)
      .sortWithinPartitions(keyCol +: tiebreak.map(_.asc): _*)
      .withColumn("$td.__pid", F.spark_partition_id())
      .localCheckpoint()
    // within-partition window: parallel across partitions
    val w = Window.partitionBy(F.col("`$td.__pid`")).orderBy(keyCol +: tiebreak.map(_.asc): _*)
    val local = method match {
      case "min"     => F.rank().over(w).cast(LongType)
      case "dense"   => F.dense_rank().over(w).cast(LongType)
      case "ordinal" => F.row_number().over(w).cast(LongType)
      case other     => throw new IllegalArgumentException(s"rank method: $other")
    }
    val withLocal = parted.withColumn("$td.__local", local)
    // per-partition sizes: rows for min/ordinal, distinct keys for dense.
    // countDistinct ignores NULLs, but dense_rank gives the null group a
    // rank — count it explicitly or every partition after the nulls would
    // have an offset one too small.
    val sizeAgg = method match {
      case "dense" =>
        F.countDistinct(F.col(key)) +
          F.max(F.when(F.col(key).isNull, 1L).otherwise(0L))
      case _ => F.count(F.lit(1))
    }
    val offsets = withLocal.groupBy(F.col("`$td.__pid`").as("pid"))
      .agg(sizeAgg.as("sz"))
      .withColumn("offset",
        F.coalesce(F.sum("sz").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)))
      .select("pid", "offset")
    // offsets has numPartitions rows → broadcast join, no extra shuffle of data
    withLocal
      .join(F.broadcast(offsets), F.col("`$td.__pid`") === F.col("pid"))
      .withColumn(as, F.col("offset") + F.col("`$td.__local`"))
      .drop("$td.__pid", "$td.__local", "pid", "offset")
  }

  /** [[withRank]] (method = min) that ALSO emits each key's global tie
    * count, in the SAME parallel window pass. The former consumers of
    * this pair (midranks for Spearman/Mann-Whitney/Kruskal/Cliff/AUC)
    * joined the ranked relation against a `groupBy(key).count()` of the
    * ORIGINAL relation — a second scan of the input lineage plus a keyed
    * shuffle and join, per statistic (r17 optimization round). Because
    * the min-method range partitioner confines ties to one partition,
    * the tie count is the window PEERS count (RANGE BETWEEN CURRENT ROW
    * AND CURRENT ROW over the same ordering) — identical values, zero
    * extra exchanges. */
  def withMinRankAndTies(df: DataFrame, key: String, rankAs: String,
      cntAs: String, descending: Boolean = false): DataFrame = {
    val keyCol = if (descending) F.col(key).desc else F.col(key).asc
    val parted = df
      .repartitionByRange(keyCol)
      .sortWithinPartitions(keyCol)
      .withColumn("$td.__pid", F.spark_partition_id())
      .localCheckpoint() // pins pids for the two consumer branches (see withRank)
    val w = Window.partitionBy(F.col("`$td.__pid`")).orderBy(keyCol)
    val peers = w.rangeBetween(Window.currentRow, Window.currentRow)
    val withLocal = parted
      .withColumn("$td.__local", F.rank().over(w).cast(LongType))
      .withColumn(cntAs, F.count(F.lit(1)).over(peers))
    val offsets = withLocal.groupBy(F.col("`$td.__pid`").as("pid"))
      .agg(F.count(F.lit(1)).as("sz"))
      .withColumn("offset",
        F.coalesce(F.sum("sz").over(
          Window.orderBy("pid").rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)))
      .select("pid", "offset")
    withLocal
      .join(F.broadcast(offsets), F.col("`$td.__pid`") === F.col("pid"))
      .withColumn(rankAs, F.col("offset") + F.col("`$td.__local`"))
      .drop("$td.__pid", "$td.__local", "pid", "offset")
  }

  /** Per-GROUP ordinal rank for MANY simultaneously-huge groups — the
    * composite-key generalization of [[withRank]]. A keyed window
    * (`Window.partitionBy(group)`) sorts each group inside ONE task, so a
    * corpus where many groups each exceed task-sized row counts cannot
    * ride it; running one [[withRank]] per group builds one subplan per
    * group (a driver/analysis-time bomb past a few dozen). This is the
    * one-pass form:
    *
    *  1. range-repartition by (group, key, tiebreakers) — each group's
    *     rows occupy a contiguous RUN of partitions, large groups span
    *     many, small groups share one;
    *  2. row_number within (partition, group) — parallel windows;
    *  3. per-(partition, group) row counts → per-group cumulative offsets
    *     (≈ numPartitions + numGroups rows of metadata, broadcast back);
    *  4. group rank = group's offset at this partition + local rank.
    *
    * Methods, mirroring [[withRank]]:
    *  - `ordinal` (row_number): supply `tiebreakers` that make
    *    (key, tiebreakers) total within every group for a deterministic
    *    result — the contract quantile extraction needs;
    *  - `min` (SQL rank): tied keys within a group share the rank of the
    *    block's first row — the midrank contract rank statistics need
    *    ([[graft.pipeline.Report.mannWhitneyUByGroup]]). Ties MUST share
    *    a partition, so the range partitioner keys on (group, key) alone
    *    (tiebreakers are ignored, as in [[withRank]]'s min) and offsets
    *    stay plain row counts — SQL rank continues from row positions.
    * NULL group keys form one group (null-safe offset join). Kept apart
    * from [[withRank]]: different partitioning contracts (group first). */
  def withRankByGroup(df: DataFrame, groupCol: String, key: String,
      as: String = "rank", tiebreakers: Seq[String] = Nil,
      method: String = "ordinal"): DataFrame = {
    val order = method match {
      case "ordinal" => F.col(key).asc +: tiebreakers.map(F.col(_).asc)
      case "min"     => Seq(F.col(key).asc)
      case other =>
        throw new IllegalArgumentException(s"group rank method: $other")
    }
    val partCols = F.col(groupCol).asc +: order
    // localCheckpoint pins partition ids across the two consuming branches
    // (rank + offsets), same reasoning as [[withRank]]
    val parted = df
      .repartitionByRange(partCols: _*)
      .sortWithinPartitions(partCols: _*)
      .withColumn("$td.__pid", F.spark_partition_id())
      .localCheckpoint()
    val w = Window.partitionBy(F.col("`$td.__pid`"), F.col(groupCol))
      .orderBy(order: _*)
    val local = method match {
      case "min" => F.rank().over(w).cast(LongType)
      case _     => F.row_number().over(w).cast(LongType)
    }
    val withLocal = parted.withColumn("$td.__local", local)
    // offsets: how many of MY group's rows live in earlier partitions.
    // The aggregate is (pid, group)-keyed — ≈ partitions + groups rows —
    // and the cumulative window runs over that metadata, not the data.
    val offsets = withLocal
      .groupBy(F.col("`$td.__pid`").as("$td.__opid"),
        F.col(groupCol).as("$td.__og"))
      .agg(F.count(F.lit(1)).as("$td.__sz"))
      .withColumn("$td.__off",
        F.coalesce(F.sum(F.col("`$td.__sz`")).over(
          Window.partitionBy(F.col("`$td.__og`"))
            .orderBy(F.col("`$td.__opid`"))
            .rowsBetween(Window.unboundedPreceding, -1)), F.lit(0L)))
      .select(F.col("`$td.__opid`"), F.col("`$td.__og`"), F.col("`$td.__off`"))
    withLocal
      .join(F.broadcast(offsets),
        F.col("`$td.__pid`") === F.col("`$td.__opid`") &&
          (F.col(groupCol) <=> F.col("`$td.__og`")))
      .withColumn(as, F.col("`$td.__off`") + F.col("`$td.__local`"))
      .drop("$td.__pid", "$td.__local", "$td.__opid", "$td.__og",
        "$td.__sz", "$td.__off")
  }

  /** Percentile-rank normalization: map `key` onto [0, 1] as
    * (rank − 1)/(n − 1) with min-ranks, so tied values share one
    * percentile and the extremes land exactly on 0 and 1 — the standard
    * calibration before mixing heterogeneous quality signals (each score
    * becomes its position in its own distribution, immune to scale and
    * outliers; compare [[graft.operators.Quantiles.winsorize]], which
    * clips instead of re-mapping). One [[withRank]] range shuffle; the
    * row count rides as a broadcast 1-row relation. A single-row frame
    * maps to 0.0. */
  def percentileRank(df: DataFrame, key: String,
      as: String = "pct_rank"): DataFrame = {
    val ranked = withRank(df, key, "$td.__rk", method = "min")
    val n = df.agg(F.count(F.lit(1)).as("$td.__n"))
    ranked.crossJoin(F.broadcast(n))
      .withColumn(as, F.when(F.col("`$td.__n`") === 1L, F.lit(0.0))
        .otherwise((F.col("`$td.__rk`") - F.lit(1L)).cast("double") /
          (F.col("`$td.__n`") - F.lit(1L)).cast("double")))
      .drop("$td.__rk", "$td.__n")
  }
}
