package graft.operators

import org.apache.spark.sql.{Column, DataFrame, functions => F}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.types.LongType

/** Distributed whole-column rank without a single-reducer global window.
  *
  * `Expr.rank` matches the reference's semantics with `Window.orderBy(col)`
  * — correct, but Spark executes an unpartitioned window on ONE task. This
  * is the 100 TB formulation, the two-phase prefix:
  *
  *  1. range-repartition by the rank key (equal keys land in one partition,
  *     so ties never straddle partition boundaries) — [[pinned]];
  *  2. rank within each partition (parallel windows);
  *  3. one tiny aggregate of per-partition sizes → exclusive cumulative
  *     offsets, broadcast back;
  *  4. global rank = partition offset + within-partition rank
  *     ([[withOffsets]]).
  *
  * The only global data movement is the range shuffle Spark would need for
  * any total ordering; the offsets table is `numPartitions` rows.
  *
  * Why partition ids are pinned: the pid-tagged relation feeds TWO plan
  * branches (the local windows and the offsets aggregate). Without
  * materialization each branch re-executes its own range exchange, and
  * the range partitioner samples bounds with an RDD-id-derived seed —
  * identical on small data, divergent at scale, which would pair offsets
  * with the wrong partitions. [[pinned]]'s `localCheckpoint` runs the
  * range exchange once, so both branches read one set of pids. Keys can
  * be any orderable type; [[graft.pipeline.Packing.packByBudget]] derives
  * its pid from the data instead, which needs a numeric id.
  */
object ScalableRank {

  /** `df` range-partitioned by `partCols`, sorted by `order` within each
    * partition and tagged with its partition id `$td.__pid`, materialized
    * once so that every consumer reads the same pids. */
  private[graft] def pinned(df: DataFrame, partCols: Seq[Column],
      order: Seq[Column]): DataFrame =
    df.repartitionByRange(partCols: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("$td.__pid", F.spark_partition_id())
      .localCheckpoint()

  /** One output column of [[withOffsets]]: `local` over the
    * (pid[, group]) window, plus, when `size` is set, the sum of the
    * aggregate `size` over the same group's rows in earlier partitions. */
  private[graft] final case class Prefixed(as: String,
      local: WindowSpec => Column, size: Option[Column] = None)

  /** Adds `cols` to a relation carrying `$td.__pid` (from [[pinned]], or a
    * pid derived from the data), and drops the pid. Each column is a
    * window over (pid[, group]) in `order`; a sized one adds the exclusive
    * prefix over pid of its per-(pid[, group]) size, from one aggregate of
    * ≈ partitions + groups rows broadcast back. The group join is
    * null-safe, so NULL group keys form one group. The offsets relation's
    * columns are read through that relation, so input columns of any name
    * (`pid`, `offset`, …) pass through untouched. */
  private[graft] def withOffsets(parted: DataFrame, group: Option[String],
      order: Seq[Column], cols: Seq[Prefixed]): DataFrame = {
    // unsuffixed names for the first sized column keep the one-column
    // plans (every rank) as they were
    def nth(name: String, i: Int) = if (i == 0) name else s"$name$i"
    val w = Window.partitionBy(F.col("`$td.__pid`") +: group.map(F.col).toSeq: _*)
      .orderBy(order: _*)
    val (sized, plain) = cols.partition(_.size.isDefined)
    require(sized.nonEmpty, "withOffsets needs a sized column")
    val tmp = sized.indices.map(nth("$td.__local", _))
    val local = (sized.zip(tmp) ++ plain.map(c => (c, c.as)))
      .foldLeft(parted) { case (d, (c, name)) => d.withColumn(name, c.local(w)) }
    val og = group.map(_ => F.col("`$td.__og`")).toSeq
    val sizes = sized.indices.map(i => sized(i).size.get.as(nth("sz", i)))
    val prior = Window.partitionBy(og: _*).orderBy("pid")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local
      .groupBy(F.col("`$td.__pid`").as("pid") +:
        group.map(g => F.col(g).as("$td.__og")).toSeq: _*)
      .agg(sizes.head, sizes.tail: _*)
      .select((F.col("pid") +: og) ++ sized.indices.map(i =>
        F.coalesce(F.sum(nth("sz", i)).over(prior), F.lit(0L)).as(nth("offset", i))): _*)
    val on = (local("`$td.__pid`") === offsets("pid")) +:
      group.map(g => local(g) <=> offsets("`$td.__og`")).toSeq
    // offsets has ≈ numPartitions rows → broadcast join, no data shuffle
    val joined = local.join(F.broadcast(offsets), on.reduce(_ && _))
    val offCols = offsets.columns.toSeq.map(n => offsets(s"`$n`"))
    sized.indices.foldLeft(joined) { (d, i) =>
        d.withColumn(sized(i).as, offsets(nth("offset", i)) + F.col(s"`${tmp(i)}`"))
      }
      .drop(offCols.head, offCols.tail: _*)
      .drop("$td.__pid" +: tmp: _*)
  }

  /** Append a global rank column. Methods: min | dense | ordinal.
    * For `ordinal`, supply deterministic `tiebreakers` to fix an order on
    * equal keys (otherwise ties get an arbitrary stable-per-run order). */
  def withRank(df: DataFrame, key: String, as: String = "rank",
      method: String = "min", descending: Boolean = false,
      tiebreakers: Seq[String] = Nil): DataFrame = {
    val keyCol = if (descending) F.col(key).desc else F.col(key).asc
    val order = keyCol +: tiebreakers.map(F.col(_).asc)
    // per-partition sizes: rows for min/ordinal, distinct keys for dense.
    // countDistinct ignores NULLs, but dense_rank gives the null group a
    // rank — count it explicitly or every partition after the nulls would
    // have an offset one too small.
    val rows = F.count(F.lit(1))
    val (local, size) = method match {
      case "min"     => (F.rank(), rows)
      case "dense"   => (F.dense_rank(), F.countDistinct(F.col(key)) +
        F.max(F.when(F.col(key).isNull, 1L).otherwise(0L)))
      case "ordinal" => (F.row_number(), rows)
      case other     => throw new IllegalArgumentException(s"rank method: $other")
    }
    // min/dense: ties MUST share a partition → range-partition by key alone;
    // ordinal orders ties too, so tiebreakers may join the partitioner.
    // The directional column steers the range partitioner so partition ids
    // follow the requested global order for descending ranks as well.
    val partCols = if (method == "ordinal") order else Seq(keyCol)
    withOffsets(pinned(df, partCols, order), None, order,
      Seq(Prefixed(as, w => local.over(w).cast(LongType), Some(size))))
  }

  /** [[withRank]] (method = min) that ALSO emits each key's global tie
    * count, in the SAME parallel window pass: because the min-method range
    * partitioner confines ties to one partition, the tie count is the
    * window PEERS count (RANGE BETWEEN CURRENT ROW AND CURRENT ROW over
    * the same ordering) — no `groupBy(key).count()` of the input joined
    * back, zero extra exchanges. Midranks (Spearman, Mann-Whitney,
    * Kruskal, Cliff, AUC) are 2·mid = 2·rank + count − 1. */
  def withMinRankAndTies(df: DataFrame, key: String, rankAs: String,
      cntAs: String, descending: Boolean = false): DataFrame =
    minRankAndTies(df, None, key, rankAs, cntAs, descending)

  /** [[withMinRankAndTies]], or with `group` its per-group form: min-ranks
    * and tie counts WITHIN each group, from one range shuffle on
    * (group, key) — the [[withRankByGroup]] layout. */
  private[graft] def minRankAndTies(df: DataFrame, group: Option[String],
      key: String, rankAs: String, cntAs: String,
      descending: Boolean = false): DataFrame = {
    val order = Seq(if (descending) F.col(key).desc else F.col(key).asc)
    val partCols = group.map(F.col(_).asc).toSeq ++ order
    withOffsets(pinned(df, partCols, partCols), group, order, Seq(
      Prefixed(rankAs, w => F.rank().over(w).cast(LongType), Some(F.count(F.lit(1)))),
      Prefixed(cntAs, w => F.count(F.lit(1))
        .over(w.rangeBetween(Window.currentRow, Window.currentRow)))))
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
    * NULL group keys form one group. */
  def withRankByGroup(df: DataFrame, groupCol: String, key: String,
      as: String = "rank", tiebreakers: Seq[String] = Nil,
      method: String = "ordinal"): DataFrame = {
    val (order, local) = method match {
      case "ordinal" => (F.col(key).asc +: tiebreakers.map(F.col(_).asc), F.row_number())
      case "min"     => (Seq(F.col(key).asc), F.rank())
      case other =>
        throw new IllegalArgumentException(s"group rank method: $other")
    }
    val partCols = F.col(groupCol).asc +: order
    withOffsets(pinned(df, partCols, partCols), Some(groupCol), order,
      Seq(Prefixed(as, w => local.over(w).cast(LongType), Some(F.count(F.lit(1))))))
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
