package graftbench

import graft.{Graft, SparkEntry}
import graft.functions.Fns
import graft.operators.{AsOfJoin, Ohlc}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** One timed operation. A `Query` is timed from its build call through a
  * `noop` write that evaluates every returned column; a `Call` is timed as
  * the one operator call it is (an append or a restatement writes through
  * `Sinks` itself). `after` runs with the clock stopped: it captures what
  * the correctness check needs.
  */
sealed trait Op {
  def key: String
  def kind: String
  def after: () => Unit
  /** Names the op in what `after` records, for the checker. */
  def ref: String
  /** Run the op; `beforeAction` runs when the build is done (a call has no
    * build). Returns that moment's `System.nanoTime`. */
  def execute(beforeAction: () => Unit = () => ()): Long
}
final case class Query(key: String, kind: String, build: () => DataFrame,
                       after: () => Unit = () => (), ref: String = "") extends Op {
  def execute(beforeAction: () => Unit): Long = {
    val df = build()
    val tb = System.nanoTime()
    beforeAction()
    df.write.format("noop").mode("overwrite").save()
    tb
  }
}
final case class Call(key: String, kind: String, run: () => Unit,
                      after: () => Unit = () => (), ref: String = "") extends Op {
  def execute(beforeAction: () => Unit): Long = {
    val tb = System.nanoTime()
    beforeAction()
    run()
    tb
  }
}

trait Workload {
  def ops(spark: SparkSession, dir: String, work: String, pass: Int): Seq[Op]
  /** Set-up: one untimed pass (pass 0) that leaves the timed passes warm.
    * A workload whose outputs are checked after the run writes them into
    * `checkDir` here. */
  def setUp(spark: SparkSession, dir: String, work: String, checkDir: String): Unit
  /** Extra JSON fields for the run artifact. */
  def report: Map[String, Any] = Map.empty
}

/** A fixed list of `SparkEntry` keys, each run once per pass. */
final class KeyBattery(keys: Seq[String]) extends Workload {
  def ops(spark: SparkSession, dir: String, work: String, pass: Int): Seq[Op] =
    keys.map(k => Query(k, "query", () => SparkEntry.queries(k)(spark, dir)))

  // The keys are independent, so set-up runs them at once, each written as
  // parquet for the checker (the timed passes compute the same outputs).
  // The drop waits for all of them, as it would evict a running key's
  // checkpoints.
  def setUp(spark: SparkSession, dir: String, work: String, checkDir: String): Unit = {
    Workloads.concurrently(spark, keys.map(k => () =>
      SparkEntry.queries(k)(spark, dir).write.mode("overwrite").parquet(s"$checkDir/$k")))
    Graft.dropQueryState(spark)
    Files.write(Paths.get(s"$checkDir/oracle_sql.json"),
      Json(SparkEntry.oracleSql.filter { case (k, _) => keys.contains(k) })
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }
}

object Workloads {
  // A run must stay near a minute, so the battery is a subset of each
  // family that keeps the family's mechanisms: windows, sorts and heavy
  // Catalyst plans over the tick table (market), and graft's kernels,
  // Graft.materialize checkpoints (q_dedup_near_keep) and a SparkEntry memo
  // build (q_semdedup's centroids) over the corpus (curation).
  val marketKeys: Seq[String] = Seq(
    "q_ohlc_daily", "q_incremental_append", "q_sma", "q_macd", "q_stream_join")

  val curationKeys: Seq[String] = Seq(
    "q_dedup_exact", "q_dedup_near_keep", "q_span_dedup", "q_char_diversity", "q_semdedup")

  /** Run independent calls on one thread per core; wait for all of them. A
    * call that throws leaves no output, so its key fails its check. */
  def concurrently(spark: SparkSession, calls: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      spark.sparkContext.defaultParallelism)
    try calls.map(c => pool.submit(new Runnable { def run(): Unit = c() }))
      .foreach(f => scala.util.Try(f.get()))
    finally pool.shutdown()
  }

  def apply(name: String): Workload = name match {
    case "nightly_batch" => new KeyBattery(marketKeys ++ curationKeys)
    case "daily_serve" => new DailyServe
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** The append-then-serve loop. The input directory holds `script.tsv`, one
  * op per line in replay order:
  *   append  <day> <batch file>   Sinks.appendNewerThan into the day's partition
  *   restate <day> <batch file>   Sinks.restateDays with a corrected day
  *   lookup  latest|history|sector|day <param>
  * After each lookup, with the clock stopped, the lookup is run again and
  * its output written for the checker, which compares it with the store
  * state the script should have produced by then.
  */
final class DailyServe extends Workload {
  private val lookups = scala.collection.mutable.ArrayBuffer[Map[String, Any]]()
  private val stores = scala.collection.mutable.LinkedHashMap[Int, String]()

  private def read(spark: SparkSession, file: String): DataFrame =
    Fns.normalizeTsNtz(spark.read.parquet(file), "ts")

  private val entityDay = Window.partitionBy(col("user_id")).orderBy(col("d"))

  def lookup(spark: SparkSession, store: String, kind: String, param: String): DataFrame = {
    val all = spark.read.parquet(store)
    kind match {
      case "latest" =>
        all.groupBy(col("user_id"))
          .agg(max(col("ts")).as("latest_ts"), to_date(max(col("ts"))).as("latest_d"))
      case "history" =>
        val prev = lag(col("open"), 1).over(entityDay)
        Ohlc.dailyBars(all.where(col("user_id") === param.toLong))
          .select(col("user_id"), col("d"), col("close"),
            Fns.sma(col("close"), 5, entityDay).as("sma_5"),
            round((col("open") - prev) / nullif(prev, lit(0.0)) * 100, 6).as("gap_pct"))
      case "sector" =>
        val ev = all.where(col("day") <= lit(param).cast("date")).drop("day")
        val history = Ohlc.dailyBars(ev).select("user_id", "d", "close")
        def latest(tpe: String, as: String) = ev.where(col("event_type") === tpe)
          .groupBy(col("user_id"), to_date(col("ts")).as("d"))
          .agg(max_by(col("value"), col("ts")).as(as))
        AsOfJoin.asOfMany(history,
            Seq(latest("purchase", "shares") -> Seq("shares"),
              latest("signup", "outstanding") -> Seq("outstanding")), "user_id", "d")
          .where(col("d") === lit(param).cast("date"))
          .select(col("user_id"), col("d"), col("close"),
            round(col("close") * col("shares") / nullif(col("outstanding"), lit(0.0)), 6)
              .as("calculated_price"))
      case "day" =>
        all.where(col("day") === lit(param).cast("date")).drop("day")
    }
  }

  def setUp(spark: SparkSession, dir: String, work: String, checkDir: String): Unit =
    ops(spark, dir, work, pass = 0).foreach { op =>
      op.execute()
      Graft.dropQueryState(spark)
    }

  def ops(spark: SparkSession, dir: String, work: String, pass: Int): Seq[Op] = {
    val store = s"$work/store-$pass"
    stores(pass) = store
    val lines = Files.readAllLines(Paths.get(s"$dir/script.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split('\t').toSeq)
    lines.zipWithIndex.map {
      case (Seq("append", day, file), _) =>
        Call("append", "append", () => Sinks.appendNewerThan(
          spark, read(spark, s"$dir/$file"), s"$store/day=$day", "user_id", "ts"))
      case (Seq("restate", _, file), _) =>
        Call("restate", "restate", () => Sinks.restateDays(read(spark, s"$dir/$file"), store, "ts"))
      case (Seq("lookup", kind, param), i) =>
        val ref = s"$pass:$i"
        val after = () => {
          val out = s"$work/check-$pass/lookup-$i"
          lookup(spark, store, kind, param).write.mode("overwrite").parquet(out)
          lookups += Map("ref" -> ref, "line" -> i, "output" -> out)
          ()
        }
        Query(s"lookup_$kind", "lookup", () => lookup(spark, store, kind, param), after, ref)
      case (other, _) => throw new IllegalArgumentException(s"bad script line: $other")
    }
  }

  override def report: Map[String, Any] = Map(
    "serve" -> Map("lookups" -> lookups.toSeq,
      "stores" -> stores.collect { case (p, st) if p > 0 => p.toString -> st }))
}
