package graftbench

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.operators.{Readings, TierManager, TsQuery}
import graft.plans.ZoneMap
import graft.sources.BuffStore

/** One landed generation of data: the tier ladder, the BUFF planes and the
  * streamed histogram, plus what the checker needs to recompute answers from
  * the raw input (`rawFiles`, the aging `cutoff`).
  */
final class Store(val gen: Int, val tm: TierManager, val planes: Option[String], val base: Long,
                  val planeCount: Int, val cutoff: java.sql.Timestamp,
                  val histDir: Option[String], val histBatchMax: Long, val rawFiles: Seq[String])

/** One query call: its kind and the index of its seeded parameter set. */
final case class Call(kind: String, pidx: Int, p: Params)

final class Params(node: JsonNode) {
  def long(k: String): Long = node.get(k).asLong
  def str(k: String): String = node.get(k).asText
  def doubles(k: String): Seq[Double] = Json.elems(node.get(k)).map(_.asDouble)
  lazy val ids: Seq[Any] = Json.elems(node.get("ids")).map(n => java.lang.Long.valueOf(n.asLong))
}

/** A consumed result: an order-insensitive digest over every output column,
  * or the sorted rows themselves for kinds whose result is a handful of rows.
  */
sealed trait Answer
final case class Digest(rows: Long, lo: Long, hi: Long) extends Answer
final case class Rows(rows: Seq[String]) extends Answer

object Calls {
  /** Kinds whose result is small enough to collect as a user would. */
  val Collected = Set("zonemap_agg", "buff_max")
  val IdStride = 1000000L
  val AllKinds = Seq("range", "range_tier", "equal", "buff_range", "buff_sum", "buff_max",
    "window_pos", "window_time", "zonemap_agg", "project_ids", "last_per_signal", "cold_sum",
    "percentile_sketch")

  private def between(c: Call) = col("value_q").between(c.p.long("lo"), c.p.long("hi"))

  /** The public call a user makes for `c`, returning the result frame. */
  def build(spark: SparkSession, dataDir: String, st: Store, c: Call): DataFrame = {
    def readings = Readings.of(spark, dataDir)
    def planes = BuffStore.read(spark, st.planes.get)
    c.kind match {
      case "range" => TsQuery.rangeFilter(readings, between(c))
      case "range_tier" => TsQuery.rangeFilter(spark.read.parquet(st.tm.tier0), between(c))
      case "equal" => TsQuery.equalFilter(readings, col("value_q"), c.p.long("q"))
      case "buff_range" =>
        BuffStore.rangeProgressive(planes, st.base, st.planeCount, c.p.long("lo"), c.p.long("hi"))
      case "buff_sum" => BuffStore.sumFromPlanes(planes, st.base, st.planeCount)
      case "buff_max" => BuffStore.maxWithArgmax(planes, st.base, st.planeCount)
      case "window_pos" =>
        TsQuery.windowMaxPositional(readings, c.p.long("start"), c.p.long("end"), c.p.long("width"))
      case "window_time" => TsQuery.windowAggTime(readings, c.p.str("width"))
      case "zonemap_agg" =>
        spark.read.parquet(st.tm.tier0)
          .agg(max(col("value")).as("vmax"), sum(col("value_q")).as("sum_q"))
      case "project_ids" =>
        TsQuery.projectAt(readings, (col("signal_id") * IdStride + col("seq_no")).isin(c.p.ids: _*))
      case "last_per_signal" => TsQuery.lastPerSignal(readings)
      case "cold_sum" =>
        if (c.p.str("tier") == "tier2_sum") st.tm.sumFromColdTier() else st.tm.maxFromTier3()
      case "percentile_sketch" =>
        ZoneMap.percentileFromHistogram(
          spark.read.parquet(st.histDir.get).filter(col("batch_id") <= st.histBatchMax),
          c.p.doubles("ps"), scale = 100.0)
    }
  }

  /** The frame that is executed: the result itself for collected kinds,
    * otherwise its digest. The digest sums the two 32-bit halves of an
    * xxhash64 over all columns separately, so it cannot overflow under ANSI
    * arithmetic below 2^31 rows, and it is insensitive to row order but not
    * to duplicate rows.
    */
  def consumer(kind: String, df: DataFrame): DataFrame =
    if (Collected(kind)) df else digest(df)

  def digest(df: DataFrame): DataFrame = {
    val h = xxhash64(df.columns.toIndexedSeq.map(col): _*)
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  def answer(kind: String, rows: Array[Row]): Answer =
    if (Collected(kind)) Rows(rows.map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted)
    else Digest(rows(0).getLong(0), rows(0).getLong(1), rows(0).getLong(2))

  def resultRows(a: Answer): Long = a match {
    case Digest(n, _, _) => n
    case Rows(rs) => rs.size.toLong
  }
}

/** Untimed recomputation of each answer with plain Spark over the raw,
  * uncompressed input: no graft operator, tier or plane is read except the
  * chunk keys a cold tier holds, which define the set its sums cover.
  */
final class Reference(spark: SparkSession, rawFiles: Seq[String]) {
  /** Readings of every file, tagged with the file's index. Files are in
    * (ts, event_id) order, so the `seq_no` of a prefix of the files is the
    * same as over all of them and one cache serves every generation.
    */
  private val all: DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    rawFiles.zipWithIndex.map { case (f, i) => spark.read.parquet(f).withColumn("file", lit(i)) }
      .reduce(_ unionByName _)
      .select(col("file"), col("user_id").as("signal_id"), col("ts").cast("timestamp").as("ts"),
        col("value"), floor(col("value") * 100.0).cast("long").as("value_q"),
        row_number().over(w).cast("long").as("seq_no")).cache()
  }
  all.count()

  def release(): Unit = all.unpersist(blocking = true)

  private def readingsOf(st: Store): DataFrame =
    all.filter(col("file") < st.rawFiles.size).drop("file")

  private def chunkSums(st: Store, width: Int, keysPath: String): DataFrame = {
    val aged = readingsOf(st).filter(col("ts") < lit(st.cutoff))
      .withColumn("chunk", ((col("seq_no") - 1) / width).cast("long"))
    aged.join(spark.read.parquet(keysPath).select("signal_id", "chunk").distinct(),
        Seq("signal_id", "chunk"), "left_semi")
      .groupBy(col("signal_id"), col("chunk"))
      .agg(sum(col("value_q")).as("sq"), count(lit(1)).as("cnt"))
  }

  def expected(c: Call, st: Store): DataFrame = {
    val r = readingsOf(st)
    def inRange = r.filter(col("value_q").between(c.p.long("lo"), c.p.long("hi")))
      .select(col("signal_id"), col("seq_no"))
    c.kind match {
      case "range" | "range_tier" | "buff_range" => inRange
      case "equal" => r.filter(col("value_q") === c.p.long("q")).select(col("signal_id"), col("seq_no"))
      case "buff_sum" =>
        r.groupBy(col("signal_id")).agg(sum(col("value_q")).as("sum_q"), count(lit(1)).as("cnt"))
      case "buff_max" =>
        val top = r.agg(max(col("value_q"))).first().getLong(0)
        r.filter(col("value_q") === top).select(col("signal_id"), col("seq_no"), col("value_q"))
      case "window_pos" =>
        val (s, e, w) = (c.p.long("start"), c.p.long("end"), c.p.long("width"))
        r.filter(col("seq_no") > s && col("seq_no") <= e)
          .groupBy(col("signal_id"), ((col("seq_no") - 1 - s).divide(w)).cast("long").as("win"))
          .agg(max(col("value")).as("wmax"), count(lit(1)).as("cnt"))
      case "window_time" =>
        val us = Reference.intervalMicros(c.p.str("width"))
        r.groupBy(((unix_micros(col("ts")) - pmod(unix_micros(col("ts")), lit(us))) / 1000000L)
            .cast("long").as("wstart"))
          .agg(max(col("value")).as("wmax"), count(lit(1)).as("cnt"))
      case "zonemap_agg" => r.agg(max(col("value")).as("vmax"), sum(col("value_q")).as("sum_q"))
      case "project_ids" =>
        val ids = spark.createDataFrame(
          spark.sparkContext.parallelize(c.p.ids.map(i => Row(i))),
          new StructType().add("id", "long"))
        r.join(ids, col("signal_id") * Calls.IdStride + col("seq_no") === col("id"))
          .select(col("signal_id"), col("seq_no"), col("value"))
      case "last_per_signal" =>
        r.groupBy(col("signal_id"))
          .agg(max_by(col("value"), struct(col("ts"), col("seq_no"))).as("last_value"))
      case "cold_sum" if c.p.str("tier") == "tier2_sum" =>
        chunkSums(st, 4, st.tm.tier2).groupBy(col("signal_id"))
          .agg(sum(col("sq")).as("sum_q"), sum(col("cnt")).as("cnt"))
          .withColumn("avg_v", round(col("sum_q").cast("double") /
            (lit(100.0) * col("cnt").cast("double")), 6))
      case "cold_sum" =>
        chunkSums(st, 8, st.tm.tier3)
          .withColumn("chunk_mean", col("sq").cast("double") / (lit(100.0) * col("cnt").cast("double")))
          .groupBy(col("signal_id")).agg(max(col("chunk_mean")).as("paa_max"))
      case "percentile_sketch" =>
        val ranked = r.select(col("signal_id"), col("value_q"),
          (row_number().over(Window.partitionBy(col("signal_id")).orderBy(col("value_q"))) - 1)
            .cast("long").as("rk"))
        val idx = r.groupBy(col("signal_id")).agg(count(lit(1)).as("n"))
          .select(col("signal_id"), col("n"), explode(array(c.p.doubles("ps").map(lit): _*)).as("p"))
          .withColumn("i", (col("n") - 1).cast("double") * col("p"))
          .withColumn("lo", floor(col("i")).cast("long"))
          .withColumn("hi", ceil(col("i")).cast("long"))
        val lo = ranked.select(col("signal_id"), col("rk").as("lo"), col("value_q").as("vlo"))
        val hi = ranked.select(col("signal_id"), col("rk").as("hi"), col("value_q").as("vhi"))
        idx.join(lo, Seq("signal_id", "lo")).join(hi, Seq("signal_id", "hi"))
          .select(col("signal_id"), col("p"),
            round((col("vlo").cast("double") + (col("vhi") - col("vlo")).cast("double") *
              (col("i") - col("lo").cast("double"))) / lit(100.0), 6).as("v"))
    }
  }

  /** The reference answer in the representation the timed call produced,
    * with columns cast to the program's output types by position; None when
    * the column counts differ.
    */
  def answer(c: Call, st: Store, schema: StructType): Option[Answer] = {
    val ref = expected(c, st)
    if (ref.columns.length != schema.length) None
    else {
      val aligned = ref.select(ref.columns.toIndexedSeq.zip(schema.fields).map { case (n, f) =>
        col(n).cast(f.dataType).as(f.name) }: _*)
      Some(Calls.answer(c.kind, Calls.consumer(c.kind, aligned).collect()))
    }
  }
}

object Reference {
  def intervalMicros(width: String): Long = width.trim.split("\\s+") match {
    case Array(n, unit) =>
      val per = unit.stripSuffix("s") match {
        case "minute" => 60L
        case "hour" => 3600L
        case "day" => 86400L
      }
      n.toLong * per * 1000000L
  }
}
