package graft.pipeline

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window
import graft.operators.ScalableRank

/** Sequence packing: assign documents to fixed-budget training sequences
  * ("packs") — the step that turns a deduplicated, filtered corpus into
  * model-ready context windows (greedy contiguous packing in a
  * deterministic document order; the packing strategy used by most public
  * LLM data pipelines, e.g. GPT-NeoX / T5-style concat-and-chunk).
  *
  * A document's pack is `floor(exclusive_prefix_sum(tokens) / budget)` in
  * `idCol` order, and its offset within the pack is the remainder — pure
  * integer arithmetic, so the assignment is reproducible across engines
  * and partitionings, and the gate oracle is a window prefix-sum in SQL.
  * A document longer than the budget starts in its own pack and logically
  * spans following ones; slicing it is the tokenizer stage's job.
  *
  * Scale shape: a naive `sum() OVER (ORDER BY id)` is a single-reducer
  * global window. This implementation is two-phase like
  * [[graft.operators.ScalableRank]]: ids bucket against driver-held
  * quantile split points, local prefix sums run in parallel per bucket,
  * and only the numPartitions-row per-bucket totals pass through a global
  * window before broadcasting back — no global sort-merge of the corpus
  * on one reducer.
  */
object Packing {

  /** Append `pack_id` (0-based sequence number) and `pack_pos` (token
    * offset of the document's start within its pack). `tokenCol` must be
    * non-negative; `idCol` must be numeric and give a deterministic total
    * order.
    *
    * The partition id is derived FROM THE DATA (id compared against
    * driver-held quantile split points from a deterministic
    * Greenwald-Khanna sketch) rather than pinned by
    * [[graft.operators.ScalableRank.pinned]] from `spark_partition_id()`
    * after a range shuffle: a data-derived pid cannot disagree between
    * the two plan branches that read it (the reason ScalableRank gives),
    * and needs no materialization. */
  def packByBudget(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "pack budget must be positive")
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bounds: Array[Long] =
      if (p <= 1) Array.empty
      else df.stat.approxQuantile(idCol,
        (1 until p).map(_.toDouble / p).toArray, 0.001).map(_.toLong).distinct.sorted
    val pidCol = bounds.foldLeft(F.lit(0)) { (acc, b) =>
      acc + F.when(F.col(idCol) > b, 1).otherwise(0)
    }
    val tokens = F.col(tokenCol).cast("long")
    // exclusive prefix: local sum of the earlier rows + earlier partitions'
    val gcum = "$td.__gcum"
    ScalableRank.withOffsets(df.withColumn("$td.__pid", pidCol), None,
        Seq(F.col(idCol).asc), Seq(ScalableRank.Prefixed(gcum, w =>
          F.coalesce(F.sum(tokens).over(w.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0L)), Some(F.sum(tokens)))))
      .withColumn("pack_id", F.expr(s"`$$td.__gcum` div $budget"))
      .withColumn("pack_pos", F.pmod(F.col(s"`$gcum`"), F.lit(budget)))
      .drop(gcum)
  }

  /** Overlapping character windows per document — the chunking step of an
    * embedding/retrieval pipeline: (id, chunk_idx, chunk) with windows of
    * `size` chars starting every `size - overlap` chars. Pure
    * sequence/explode/substr projection (codegen, zero shuffle); empty and
    * null documents yield no chunks. `chunk_idx` is derivable as
    * `(start - 1) / step`, which is what makes the SQL oracle exact. */
  def chunkDocuments(df: DataFrame, idCol: String, textCol: String,
      size: Int, overlap: Int): DataFrame = {
    require(size > 0 && overlap >= 0 && overlap < size,
      "need size > 0 and 0 <= overlap < size")
    val step = size - overlap
    val len = F.char_length(F.col(textCol))
    val starts = F.when(len > 0, F.sequence(F.lit(1), len, F.lit(step)))
      .otherwise(F.array())
    df.select(F.col(idCol), F.col(textCol), F.posexplode(starts).as(Seq("chunk_idx", "start")))
      .select(F.col(idCol), F.col("chunk_idx"),
        F.col(textCol).substr(F.col("start"), F.lit(size)).as("chunk"))
  }
}
