package graft.pipeline

import org.apache.spark.sql.{DataFrame, functions => F}
import org.apache.spark.sql.expressions.Window

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
    * Greenwald-Khanna sketch), not from `spark_partition_id()` after a
    * range shuffle: the corpus-side window and the offsets aggregate sit
    * in two plan branches, and two separate range exchanges sample their
    * bounds with RDD-id-derived seeds — identical on small data, silently
    * divergent at scale, which would misattribute every boundary row's
    * offset. A data-derived pid cannot disagree between branches. */
  def packByBudget(df: DataFrame, idCol: String, tokenCol: String,
      budget: Long): DataFrame = {
    require(budget > 0, "pack budget must be positive")
    val pid = "$td.__pid"; val cum = "$td.__cum"
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val bounds: Array[Long] =
      if (p <= 1) Array.empty
      else df.stat.approxQuantile(idCol,
        (1 until p).map(_.toDouble / p).toArray, 0.001).map(_.toLong).distinct.sorted
    val pidCol = bounds.foldLeft(F.lit(0)) { (acc, b) =>
      acc + F.when(F.col(idCol) > b, 1).otherwise(0)
    }
    val parted = df.withColumn(pid, pidCol)
    val w = Window.partitionBy(F.col(s"`$pid`")).orderBy(F.col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val withLocal = parted.withColumn(cum,
      F.coalesce(F.sum(F.col(tokenCol).cast("long")).over(w), F.lit(0L)))
    // per-partition token totals → exclusive prefix over pid (numPartitions
    // rows, trivially small) → broadcast join back. The offsets relation's
    // columns share the $td.__ namespace of the other helper columns: bare
    // names would make an input 'pid' ambiguous and silently drop an input
    // 'offset' in the final drop.
    val opid = "$td.__offset_pid"; val off = "$td.__offset"
    val offsets = withLocal.groupBy(F.col(s"`$pid`").as(opid))
      .agg(F.sum(F.col(tokenCol).cast("long")).as("$td.__sz"))
      .withColumn(off,
        F.coalesce(F.sum(F.col("`$td.__sz`")).over(
          Window.orderBy(F.col(s"`$opid`")).rowsBetween(Window.unboundedPreceding, -1)),
          F.lit(0L)))
      .select(F.col(s"`$opid`"), F.col(s"`$off`"))
    withLocal
      .join(F.broadcast(offsets), F.col(s"`$pid`") === F.col(s"`$opid`"))
      .withColumn("$td.__gcum", F.col(s"`$off`") + F.col(s"`$cum`"))
      .withColumn("pack_id", F.expr(s"`$$td.__gcum` div $budget"))
      .withColumn("pack_pos", F.pmod(F.col("`$td.__gcum`"), F.lit(budget)))
      .drop(pid, cum, opid, off, "$td.__gcum")
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
