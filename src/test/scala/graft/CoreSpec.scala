package graft

import org.apache.spark.sql.{SparkSession, functions => F}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core._
import graft.expressions.UuidV7

object TestSession {
  lazy val spark: SparkSession = td.session("local[4]", 4)
  val sf = "/root/testdata/sf0.001"
}

class CoreSpec extends AnyFunSuite {
  lazy val spark = TestSession.spark
  import TestSession.sf

  def li: TableFrame = TableFrame.fromDF(spark.read.parquet(s"$sf/lineitem.parquet"))
  def nation: TableFrame = TableFrame.fromDF(spark.read.parquet(s"$sf/nation.parquet"))

  test("uuidv7 generates sortable unique 26-char base32hex ids") {
    val ids = spark.range(1000).select(UuidV7.uuidv7().as("id"))
      .collect().map(_.getString(0))
    assert(ids.length == 1000)
    assert(ids.distinct.length == 1000)
    assert(ids.forall(_.length == 26))
    assert(ids.forall(_.forall(c => (c >= '0' && c <= '9') || (c >= 'a' && c <= 'v'))))
    // time-prefix: ids generated in the same millisecond share a prefix order;
    // at minimum all ids generated now sort after an id from an earlier epoch
    assert(ids.min > "0000000000000000000000000*".take(25))
  }

  test("system columns: raw mode stamps all, arrange puts user cols first") {
    val ctx = SysCtx.fresh()
    val tf = TableFrame.fromRaw(nation.df, ctx)
    assert(tf.columns("user") == Seq("n_nationkey", "n_name", "n_regionkey"))
    assert(tf.columns("system").toSet == SystemColumns.Required.toSet)
    assert(tf.df.columns.take(3).toSeq == Seq("n_nationkey", "n_name", "n_regionkey"))
    val row = tf.df.select(F.col(s"`${SystemColumns.Execution}`")).head()
    assert(row.getString(0) == ctx.execution)
  }

  /** The stamping as one `withColumn` per system column and then a
    * reorder: the formulation the one-projection stamp replaced, kept here
    * as the reference its schemas must match byte for byte. */
  private object ChainedStamp {
    import SystemColumns._
    private def valueFor(n: String, ctx: SysCtx) = n match {
      case Id          => UuidV7.uuidv7()
      case Execution   => F.lit(ctx.execution)
      case Transaction => F.lit(ctx.transaction)
      case Version     => F.lit(ctx.version)
      case Timestamp   => F.lit(ctx.timestamp).cast(TimestampType)
    }
    private def fill(df: org.apache.spark.sql.DataFrame, names: Seq[String], ctx: SysCtx) = {
      val present = df.columns.toSet
      arrange(names.foldLeft(df)((d, n) =>
        if (present(n)) d else d.withColumn(n, valueFor(n, ctx))))
    }
    def apply(mode: String, df: org.apache.spark.sql.DataFrame, ctx: SysCtx) = mode match {
      case "raw" => fill(df.drop(systemColumns(df): _*), Required, ctx)
      case "tab" => fill(df, Required, ctx)
      case "sys" => fill(df.drop(Id).withColumn(Id, valueFor(Id, ctx)), Required.drop(1), ctx)
    }
  }

  test("system columns: raw/tab/sys stamp in one projection, as the chained stamp did") {
    import spark.implicits._
    import SystemColumns._
    val base = Seq((1, "a"), (2, "b")).toDF("k", "s")
    val old = new java.sql.Timestamp(0L)
    val inputs = Map(
      "none" -> base,
      // out of order, with a `$td.` column outside Required
      "some" -> base.select(F.col("k"), F.lit("old-exec").as(Execution), F.col("s"),
        F.lit("old-id").as(Id), F.lit(7).as("$td.extra")),
      "all" -> base.select(F.lit("old-ts").as("$td.extra"), F.col("k"),
        F.lit(old).as(Timestamp), F.lit("old-version").as(Version), F.col("s"),
        F.lit("old-id").as(Id), F.lit("old-txn").as(Transaction),
        F.lit("old-exec").as(Execution)))
    val modes = Map[String, (org.apache.spark.sql.DataFrame, SysCtx) => org.apache.spark.sql.DataFrame](
      "raw" -> addRaw _, "tab" -> addTab _, "sys" -> addSys _)
    val ctx = SysCtx.fresh()
    for ((shape, in) <- inputs; (mode, stamp) <- modes) {
      val out = stamp(in, ctx)
      val what = s"$mode over $shape"
      val sys = in.columns.toSeq.filter(isSystem)
      val wantSys = ((if (mode == "raw") Nil else sys) ++ Required).distinct.sorted
      assert(out.columns.toSeq == Seq("k", "s") ++ wantSys, what)
      assert(out.schema.json == ChainedStamp(mode, in, ctx).schema.json, what)
      // one projection over the input, nothing stacked under it
      val projects = out.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
      val inProjects = in.queryExecution.analyzed.collect {
        case p: org.apache.spark.sql.catalyst.plans.logical.Project => p }
      assert(projects.size == inProjects.size + 1, what)
      val rows = out.select(F.col(s"`$Id`"), F.col(s"`$Execution`")).collect()
      val ids = rows.map(_.getString(0)).toSeq
      val keepsId = mode == "tab" && sys.contains(Id)
      assert(ids.forall(_ == "old-id") == keepsId, s"$what: ids $ids")
      assert(keepsId || ids.distinct.size == 2 && ids.forall(_.length == 26), what)
      val exec = if (mode != "raw" && sys.contains(Execution)) "old-exec" else ctx.execution
      assert(rows.forall(_.getString(1) == exec), what)
      if (mode == "raw") assert(!out.columns.contains("$td.extra"), what)
    }
    // nothing to stamp or move: the frame itself comes back
    val stored = addTab(inputs("all"), ctx)
    assert(addTab(stored, SysCtx.fresh()) eq stored)
    assert(addSys(inputs("some"), ctx).schema.fields.toSeq.map(f => f.name -> f.dataType) ==
      Seq("k" -> IntegerType,
      "s" -> StringType, "$td.extra" -> IntegerType, Id -> StringType,
      Execution -> StringType, Timestamp -> TimestampType,
      Transaction -> StringType, Version -> StringType))
    // the store logs the schema of its sys stamp: the same bytes as before
    val store = new graft.store.TableStore(
      java.nio.file.Files.createTempDirectory("graft-core-stamp").toString, spark)
    val e = store.write("c", "t", inputs("some"))
    val logged = new String(java.util.Base64.getDecoder.decode(e.schemaB64.get), "UTF-8")
    assert(logged == ChainedStamp("sys", inputs("some"), ctx).schema.json)
  }

  test("system columns survive select and are dropped from right side of join") {
    val ctx = SysCtx.fresh()
    val tf = TableFrame.fromRaw(nation.df, ctx)
    val sel = tf.select(td.col("n_name"))
    assert(sel.columns("system").toSet == SystemColumns.Required.toSet)
    val joined = tf.join(tf.rename("n_name" -> "n_name2"), on = Seq("n_nationkey"))
    assert(joined.columns("system").size == SystemColumns.Required.size)
  }

  test("user column names may not use the reserved prefix") {
    intercept[IllegalArgumentException] {
      nation.with_columns("$td.evil" -> td.lit(1))
    }
  }

  test("join strategies produce expected row counts") {
    val n = nation
    val r = TableFrame.fromDF(spark.read.parquet(s"$sf/region.parquet"))
    assert(n.join(r, leftOn = Seq("n_regionkey"), rightOn = Seq("r_regionkey")).count() == 25)
    assert(n.join(r, leftOn = Seq("n_regionkey"), rightOn = Seq("r_regionkey"), how = "semi").count() == 25)
    assert(n.join(r, how = "cross").count() == 125)
    val empty = r.filter(td.col("r_regionkey") < 0)
    assert(n.join(empty, leftOn = Seq("n_regionkey"), rightOn = Seq("r_regionkey"), how = "left").count() == 25)
    assert(n.join(empty, leftOn = Seq("n_regionkey"), rightOn = Seq("r_regionkey"), how = "anti").count() == 25)
  }

  test("broadcastRight forces a broadcast hash join") {
    val n = nation
    val r = TableFrame.fromDF(spark.read.parquet(s"$sf/region.parquet"))
    val j = n.join(r, leftOn = Seq("n_regionkey"), rightOn = Seq("r_regionkey"),
      broadcastRight = true)
    assert(j.count() == 25)
    assert(j.df.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"))
  }

  test("join suffix renames right-side collisions") {
    val a = nation.selectCols("n_nationkey", "n_name")
    val b = nation.selectCols("n_nationkey", "n_name")
    val j = a.join(b, on = Seq("n_nationkey"))
    assert(j.columns("user").contains("n_name_right"))
  }

  test("unique keep modes") {
    val tf = li.selectCols("l_returnflag")
    val distinct = tf.unique(Seq("l_returnflag"))
    assert(distinct.count() == 3)
    val none = li.unique(Seq("l_orderkey"), keep = "none")
    // rows whose orderkey appears exactly once
    val expected = li.df.groupBy("l_orderkey").count().filter(F.col("count") === 1).count()
    assert(none.count() == expected)
    val first = li.unique(Seq("l_orderkey"), keep = "first")
    assert(first.count() == li.df.select("l_orderkey").distinct().count())
  }

  test("concat modes") {
    val a = nation.selectCols("n_nationkey", "n_name")
    val b = nation.selectCols("n_nationkey", "n_name")
    assert(TableFrame.concat(Seq(a, b)).count() == 50)
    val c = nation.selectCols("n_nationkey")
    assert(TableFrame.concat(Seq(a, c), how = "diagonal").count() == 50)
    intercept[IllegalArgumentException] {
      TableFrame.concat(Seq(a, c))
    }
    // relaxed: int + double widen
    val x = TableFrame.fromDF(spark.range(3).select(F.col("id").cast(IntegerType).as("v")))
    val y = TableFrame.fromDF(spark.range(3).select((F.col("id") + 0.5).as("v")))
    val rel = TableFrame.concat(Seq(x, y), how = "vertical_relaxed")
    assert(rel.df.schema("v").dataType == DoubleType)
    assert(rel.count() == 6)
  }

  test("fill_null strategies") {
    import spark.implicits._
    val df = Seq[(Int, java.lang.Double)]((1, 1.0), (2, null), (3, 3.0), (4, null))
      .toDF("id", "v")
    val tf = TableFrame.fromDF(df)
    val fwd = tf.fill_null_strategy("v", "forward").df.orderBy("id")
      .select("v").collect().map(_.getDouble(0))
    assert(fwd.toSeq == Seq(1.0, 1.0, 3.0, 3.0))
    val mean = tf.fill_null_strategy("v", "mean").df.orderBy("id")
      .select("v").collect().map(_.getDouble(0))
    assert(mean.toSeq == Seq(1.0, 2.0, 3.0, 2.0))
  }

  test("slice/head/tail/item") {
    val sorted = nation.sort(Seq("n_nationkey"))
    assert(sorted.slice(5, 3).collectRows().map(_.getInt(0)) == Seq(5, 6, 7))
    assert(sorted.head(2).count() == 2)
    assert(sorted.selectCols("n_nationkey").filter(td.col("n_nationkey") === 7).item() == 7)
  }

  test("grok extracts typed fields") {
    import spark.implicits._
    val df = Seq("2024-01-01T10:00:00 INFO service started in 42 ms",
      "2024-01-02T11:30:05 ERROR failed after 7 ms", "garbage").toDF("line")
    val tf = TableFrame.fromDF(df)
      .grok("line", "%{TIMESTAMP_ISO8601:ts} %{LOGLEVEL:level} %{DATA:msg} %{INT:dur:int} ms")
    val rows = tf.df.select("level", "dur").collect()
    assert(rows(0).getString(0) == "INFO" && rows(0).getLong(1) == 42)
    assert(rows(1).getString(0) == "ERROR" && rows(1).getLong(1) == 7)
    assert(rows(2).isNullAt(0) && rows(2).isNullAt(1))
  }

  test("chrono format translation") {
    import graft.functions.ChronoFormat
    assert(ChronoFormat.toJava("%Y-%m-%d") == "yyyy-MM-dd")
    assert(ChronoFormat.toJava("%H:%M:%S") == "HH:mm:ss")
    assert(ChronoFormat.toJava("%d/%b/%Y:%H:%M:%S %z") == "dd/MMM/yyyy:HH:mm:ss xx")
    assert(ChronoFormat.toJava("%Y-%m-%dT%H:%M:%S%.3f") == "yyyy-MM-dd'T'HH:mm:ss.SSS")
  }

  test("str namespace on real data") {
    val p = TableFrame.fromDF(spark.read.parquet(s"$sf/part.parquet"))
    val r = p.select(
      td.col("p_name").str.to_uppercase.as("u"),
      td.col("p_name").str.len_chars.as("n"),
      td.col("p_name").str.slice(0, 3).as("h3"),
      td.col("p_name").str.zfill(30).as("z"))
      .df.head()
    assert(r.getString(0) == r.getString(0).toUpperCase)
    assert(r.getString(2).length == 3)
    assert(r.getString(3).length == 30)
  }

  test("dt namespace basics") {
    val o = TableFrame.fromDF(spark.read.parquet(s"$sf/orders.parquet"))
    val r = o.select(
      td.col("o_orderdate").dt.year.as("y"),
      td.col("o_orderdate").dt.weekday.as("wd"),
      td.col("o_orderdate").dt.month_start.as("ms"))
      .df.head()
    assert(r.getInt(0) >= 1992 && r.getInt(0) <= 1999)
    assert(r.getInt(1) >= 1 && r.getInt(1) <= 7)
    assert(r.getTimestamp(2).toLocalDateTime.getDayOfMonth == 1)
  }

  test("dt.replace preserves unset components incl. microseconds") {
    import spark.implicits._
    val df = Seq("2024-03-05 10:20:30.123456").toDF("s")
      .select(F.to_timestamp(F.col("s")).as("ts"))
    val tf = TableFrame.fromDF(df)
    val r = tf.select(
      td.col("ts").dt.replace(year = 1999, day = 1).as("a"),
      td.col("ts").dt.replace(hour = 23).as("b"),
      td.col("ts").dt.with_time_unit("us").as("c"),
      td.col("ts").dt.cast_time_unit("ms").as("d")).df.head()
    assert(r.getTimestamp(0).toLocalDateTime.toString == "1999-03-01T10:20:30.123456")
    assert(r.getTimestamp(1).toLocalDateTime.toString == "2024-03-05T23:20:30.123456")
    assert(r.getTimestamp(2) == r.getTimestamp(2)) // identity unit
    assert(r.getTimestamp(3).toLocalDateTime.toString == "2024-03-05T10:20:30.123")
  }

  test("rank(random, seed): permutation with ties in contiguous blocks") {
    import spark.implicits._
    val vals = Seq(5, 1, 5, 3, 1, 5, 2, 3)
    val tf = TableFrame.fromDF(vals.toDF("v"))
    val got = tf.select(td.col("v"), td.col("v").rank("random", seed = 42).as("r"))
      .df.collect().map(r => (r.getInt(0), r.getInt(1)))
    // ranks are a permutation of 1..n
    assert(got.map(_._2).sorted.toSeq == (1 to vals.size).toSeq)
    // within a tie group, assigned ranks form the contiguous range that
    // min/max rank would bound (random only permutes inside the tie block)
    val sortedVals = vals.sorted
    got.groupBy(_._1).foreach { case (v, rows) =>
      val lo = sortedVals.indexOf(v) + 1
      val hi = sortedVals.lastIndexOf(v) + 1
      assert(rows.map(_._2).sorted.toSeq == (lo to hi).toSeq, s"v=$v")
    }
  }

  test("selectors resolve against schema") {
    val p = TableFrame.fromDF(spark.read.parquet(s"$sf/part.parquet"))
    import Selectors._
    assert(string.resolve(p).size == 3) // p_name, p_brand, p_type
    assert(numeric.resolve(p).size == 3) // p_partkey, p_size, p_retailprice
    assert(starts_with("p_b").resolve(p).size == 1)
    assert((string & !by_name("p_name")).resolve(p).size == 2)
  }

  test("group_by all-column shortcuts") {
    val o = TableFrame.fromDF(spark.read.parquet(s"$sf/orders.parquet"))
      .selectCols("o_orderstatus", "o_totalprice", "o_custkey")
    val sums = o.group_by("o_orderstatus").sum()
    assert(sums.columns("user").toSet == Set("o_orderstatus", "o_totalprice", "o_custkey"))
    val lens = o.group_by("o_orderstatus").len()
    assert(lens.df.columns.toSeq == Seq("o_orderstatus", "len"))
    assert(lens.df.agg(org.apache.spark.sql.functions.sum("len")).head().getLong(0) == o.count())
    val nuniq = o.group_by("o_orderstatus").n_unique()
    assert(nuniq.columns("user").contains("o_custkey"))
  }

  test("timezone introspection and conversion") {
    import spark.implicits._
    val df = Seq("2024-07-01 12:00:00", "2024-01-01 12:00:00").toDF("s")
    val tf = TableFrame.fromDF(df)
      .with_columns("ts" -> td.col("s").str.to_datetime("%Y-%m-%d %H:%M:%S"))
    val rows = tf.select(
      td.col("ts").dt.base_utc_offset("America/New_York").as("base"),
      td.col("ts").dt.dst_offset("America/New_York").as("dst"),
      td.col("ts").dt.replace_time_zone("America/New_York").as("as_ny"))
      .df.collect()
    assert(rows(0).getInt(0) == -5 * 3600 && rows(0).getInt(1) == 3600) // July: EDT
    assert(rows(1).getInt(0) == -5 * 3600 && rows(1).getInt(1) == 0)    // Jan: EST
    // wall clock 12:00 interpreted in NY → 17:00/16:00 UTC instants
    assert(rows(0).getTimestamp(2).toString.startsWith("2024-07-01 16:00:00"))
    assert(rows(1).getTimestamp(2).toString.startsWith("2024-01-01 17:00:00"))
  }

  test("business days") {
    import spark.implicits._
    import graft.functions.BusinessDays
    // 2024-01-05 is a Friday; +1 business day → Monday 2024-01-08
    val df = Seq("2024-01-05").toDF("d").select(F.to_date(F.col("d")).as("d"))
    val got = df.select(BusinessDays.add(F.col("d"), 1)).head().getDate(0).toString
    assert(got == "2024-01-08")
    val got3 = df.select(BusinessDays.add(F.col("d"), 7)).head().getDate(0).toString
    assert(got3 == "2024-01-16") // 7 business days = fri + 1w2d
  }
}
