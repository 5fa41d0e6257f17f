package perfbench

import graft.analytics.{Aggs, Joins, Windows}
import graft.combinators.{Concurrent, Filter, Sequence}
import graft.core.{ErrorChannel, Signal, SignalBus, StageId}
import graft.runtime.Pipeline
import graft.sources.{CsvLines, JsonLines, ParquetSink, Tables}
import graft.stages.{Apply, Project, Transform, Where}
import graft.streaming.{Stateful, Windowed}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Star-schema ETL with an error-channel event feed, under `Pipeline.run`
  * with row signals on. One operation:
  *
  *  - facts: lineitem parquet through `Sequence`(Where, Transform,
  *    Project), a 3-way join plus a broadcast nation lookup, an aggregate
  *    with a running-sum window, a rollup, and a `Concurrent.reduced`
  *    fan-out of two aggregates;
  *  - events: a CSV and a JSONL feed with malformed lines, read with the
  *    error-channel readers, validated (`Apply`, `Filter`), split with
  *    `ErrorChannel.good`/`dead`, then session windows and first-seen rows
  *    over the good events;
  *  - seven parquet outputs, good events and dead letters included.
  *
  * `perfbench/oracle.py` recomputes every output in DuckDB.
  */
final class EtlStar(spark: SparkSession, data: String, scratch: String, tr: Tracer) extends Workload {
  private val feedSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType), StructField("user_id", LongType),
    StructField("event_type", StringType), StructField("amount_cents", LongType)))

  // Every signal on the global bus, for the signal count and the row-count check.
  private val signals = new ConcurrentLinkedQueue[Signal]()
  SignalBus.global.subscribe(s => signals.add(s))

  def prepare(): Unit = op(data, s"$scratch/warm")

  def run(i: Int, out: String): Map[String, Double] = {
    val before = signals.size
    op(data, out)
    Map("signals" -> (signals.size - before).toDouble)
  }

  private def readers(dir: String): Seq[DataFrame] = Seq(
    CsvLines.readWithErrors(spark, s"$dir/feed_csv", feedSchema),
    JsonLines.readWithErrors(spark, s"$dir/feed_jsonl", feedSchema))

  private def op(dir: String, out: String): Unit = {
    val t = (name: String) => Tables.load(spark, dir, name)
    val (orders, customer, nation) = (t("orders"), t("customer"), t("nation"))
    val (prep, star, byNationYear, rollup, fanout, running, validate, sessions) = tr.span("core.compose") {
      val prep = Sequence("prep")(
        Where("shipped", col("l_shipdate") <= lit("1997-12-31").cast("date")),
        Transform("revenue")("rev" -> col("l_price_cents") * (lit(100L) - col("l_discount_pct"))),
        Project("narrow")(col("l_orderkey"), col("l_returnflag"), col("l_quantity"), col("rev")))
      val star = Sequence("star")(
        Joins.join("orders", orders, col("l_orderkey") === col("o_orderkey")),
        Joins.join("customer", customer, col("o_custkey") === col("c_custkey")),
        Joins.join("nation", nation, col("c_nationkey") === col("n_nationkey"), broadcastRight = true))
      val byNationYear = Aggs.agg("nation_year",
        Seq(col("n_name"), year(col("o_orderdate")).as("yr")),
        Seq(sum("rev").as("rev"), count(lit(1)).as("n"), sum("l_quantity").as("qty")))
      val rollup = Aggs.rollup("flag_rollup", Seq(col("n_regionkey"), col("l_returnflag")),
        Seq(sum("rev").as("rev"), count(lit(1)).as("n")))
      def byDim(dim: String, key: String) = Aggs.agg(s"by_$dim",
        Seq(lit(dim).as("dim"), col(key).as("key")), Seq(sum("rev").as("rev"), count(lit(1)).as("n")))
      val fanout = Concurrent.reduced("segments", (_, outs) => outs.reduce(_ unionByName _))(
        byDim("segment", "c_mktsegment"), byDim("priority", "o_orderpriority"))
      val running = Windows.over("running",
        Window.partitionBy("n_name").orderBy("yr").rowsBetween(Window.unboundedPreceding, Window.currentRow),
        "rev_running" -> (w => sum("rev").over(w)))
      val validate = Sequence("validate")(
        Apply("amount_ok", col("amount_cents") < 0, "negative amount")("fee_cents" -> col("amount_cents") * 3L),
        Filter("purchases", col("event_type") === "purchase", Transform("flag")("is_purchase" -> lit(true))))
      val sessions = Windowed.session("sessions", timestamp_seconds(col("ts")), "30 minutes",
        Seq(col("user_id")), Seq(count(lit(1)).as("n"), sum("amount_cents").as("v")))
      (prep, star, byNationYear, rollup, fanout, running, validate, sessions)
    }
    val pipeline = Pipeline("etl_star", validate)
    try tr.span("runtime.run")(pipeline.run(spark) {
      val li = tr.span("sources.scan")(tr.force(t("lineitem")))
      val prepped = tr.span("stages.prep")(tr.force(prep(li)))
      val joined = tr.span("analytics.join")(tr.force(star(prepped)))
      val ny = tr.span("analytics.agg")(tr.force(byNationYear(joined)))
      val rolled = tr.span("analytics.agg")(tr.force(rollup(joined)))
      val segs = tr.span("combinators.fanout")(tr.force(fanout(joined)))
      val run = tr.span("analytics.window")(tr.force(running(ny)))

      val feed = readers(dir).map(r => tr.span("sources.parse")(tr.force(r)))
      // composed through the pipeline, so the Filter's row counts are observed
      val checked = tr.span("stages.validate")(tr.force(pipeline.plan(feed.reduce(_ unionByName _))))
      val (good, dead) = tr.span("core.err_split") {
        (tr.force(ErrorChannel.good(checked)),
          tr.force(ErrorChannel.release(ErrorChannel.dead(checked))
            .withColumn("err_path", concat_ws("/", col("err.path")))
            .withColumn("err_msg", col("err.msg"))
            .drop("err")))
      }
      val sess = tr.span("streaming.session")(tr.force(sessions(good)
        .select(col("user_id"), unix_seconds(col("session_window.start")).as("s_start"),
          unix_seconds(col("session_window.end")).as("s_end"), col("n"), col("v"))))
      val first = tr.span("streaming.first_seen")(tr.force(
        Stateful.firstSeenBatch(good, Seq("user_id", "event_type"), Seq("ts", "event_id"), Seq("amount_cents"))))
      tr.span("sources.write") {
        Seq("nation_year" -> run, "rollup" -> rolled, "segments" -> segs, "good" -> good, "dead" -> dead,
          "sessions" -> sess, "first_seen" -> first)
          .foreach { case (name, df) => ParquetSink(StageId(name), s"$out/$name")(df) }
      }
    }) finally { fanout.close(); pipeline.close() }
  }

  /** Number of from_csv / from_json evaluations in a reader's physical plan. */
  private def parseExprs(df: DataFrame): Int = {
    var n = 0
    df.queryExecution.sparkPlan.foreach(_.expressions.foreach(_.foreach { e =>
      val c = e.getClass.getSimpleName
      if (c == "CsvToStructs" || c == "JsonToStructs") n += 1
    }))
    n
  }

  /** Parse evaluations per reader, and the row-level `filter.passed`
    * totals the observed-metrics bridge forwarded for each action.
    */
  override def finish(out: String): Map[String, Any] = {
    Thread.sleep(500) // the bridge forwards after each action, asynchronously
    val rows = signals.asScala.toSeq.filter(s => s.name == "filter.passed" && s.fields.get("phase").contains("rows"))
    val rs = readers(data)
    Map(
      "parse_exprs_per_reader" -> rs.map(parseExprs).sum.toDouble / rs.size,
      "observed_rows" -> rows.map(s =>
        s.fields.get("rows_passed").map(_.toLong).getOrElse(0L) + s.fields.get("rows_filtered").map(_.toLong).getOrElse(0L)))
  }
}
