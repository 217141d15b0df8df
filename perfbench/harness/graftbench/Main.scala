package graftbench

import graft.{Bench, Graft, SparkEntry}
import org.apache.spark.sql.SparkSession
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import scala.collection.mutable

/** The JVM half of the benchmark: sets up a session, runs one workload's
  * timed ops, writes the outputs the checker compares, and leaves every
  * measurement in `<out>/result.json` (plus `<out>/spans.jsonl` when traced).
  *
  * Usage: Main --workload W --inputs DIR --work DIR --out DIR
  *             --passes N --trace 0|1 --cpus N
  */
object Main {
  private def session(cpus: Int, work: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", Graft.localScratchDir)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the session settings graft.Bench times with
      .config("spark.sql.files.maxPartitionBytes", "1m")
      .config("spark.sql.files.openCostInBytes", "256k")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .getOrCreate()

  private def now(): Long = System.nanoTime()

  /** Resident memory of this JVM, sampled at the end of every timed op. */
  private def rssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmRSS:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  private def secs(ns: Long): Double = ns / 1e9

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val (inputs, work, out) = (a("inputs"), a("work"), a("out"))
    val (passes, trace, cpus) = (a("passes").toInt, a("trace") == "1", a("cpus").toInt)
    val workload = Workloads(a("workload"))
    Files.createDirectories(Paths.get(out))

    // Set-up: JVM start, session, Graft.enable, and one untimed pass (each
    // op's generated code, the JIT's tiers; the memos it builds are cleared
    // after it). setup_s runs from JVM start to the end of that pass; the
    // host calibration after it is not set-up.
    val spark = session(cpus, work)
    spark.sparkContext.setLogLevel("ERROR")
    Graft.enable(spark)
    workload.setUp(spark, inputs, work, s"$out/check")
    SparkEntry.clearShared()
    val setupS = (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[graftbench] setup: $setupS%.2f s")
    // a full collection (outside setup_s), so the resident memory sampled
    // in the timed passes does not carry the set-up pass's heap growth
    System.gc()
    val sc = spark.sparkContext
    val calibStart = Bench.calibrate(spark, runs = 1)

    val tracer = new Tracer
    val origin = now()
    val originEpochMs = System.currentTimeMillis()
    val spans = mutable.ArrayBuffer[String]()
    var tracing = false
    def span(id: String, parent: String, name: String, t0: Long, t1: Long): Unit =
      if (tracing) spans += Json(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start_s" -> secs(t0 - origin), "end_s" -> secs(t1 - origin)))
    def group(g: String): Unit = sc.setJobGroup(g, g, interruptOnCancel = false)

    // Every pass is a whole nightly job: memos are cleared before it, so each
    // pass pays its memo builds once; the set-up pass already paid the first
    // use of each op's generated code, so every pass starts warm. A
    // traced run makes one untraced pass to measure the tracing overhead
    // against, then one traced pass.
    val plan = if (trace) Seq(false, true) else Seq.fill(passes)(false)
    var opId = 0
    var peakRssMb = 0.0
    val passRecs = plan.zipWithIndex.map { case (traced, i) =>
      val pass = i + 1
      SparkEntry.clearShared()
      Graft.dropQueryState(spark)
      if (traced != tracing) {
        if (traced) {
          sc.addSparkListener(tracer)
          spark.listenerManager.register(tracer)
        } else {
          org.apache.spark.BenchBus.drain(sc)
          sc.removeSparkListener(tracer)
          spark.listenerManager.unregister(tracer)
        }
        tracing = traced
      }
      val ops = workload.ops(spark, inputs, work, pass)
      var paused = 0L
      var firstStart, lastEnd, pausedAtLastEnd = 0L
      val recs = ops.map { op =>
        opId += 1
        val id = s"op-$opId"
        group(s"$id/build")
        val t0 = now()
        var tb = t0
        val err: Option[String] =
          try {
            tb = op.execute(() => group(s"$id/action"))
            None
          } catch {
            case e: Throwable =>
              Some((e.getClass.getSimpleName + ": " +
                Option(e.getMessage).getOrElse("").takeWhile(_ != '\n')).take(300))
          }
        val t1 = now()
        peakRssMb = math.max(peakRssMb, rssMb())
        if (firstStart == 0L) firstStart = t0
        lastEnd = t1
        pausedAtLastEnd = paused
        val (storageBytes, persisted) =
          if (!tracing) (0L, 0)
          else {
            val info = sc.getRDDStorageInfo
            (info.map(r => r.memSize + r.diskSize).sum, sc.getPersistentRDDs.size)
          }
        group(s"$id/drop")
        Graft.dropQueryState(spark)
        val t2 = now()
        group("none")
        span(id, "", "op", t0, t2)
        if (op.isInstanceOf[Query]) span(s"$id/build", id, "entry.build", t0, tb)
        span(s"$id/action", id, "exec.action", tb, t1)
        span(s"$id/drop", id, "graft.drop", t1, t2)
        val p0 = now()
        if (err.isEmpty) op.after()
        paused += now() - p0
        Map("id" -> id, "pass" -> pass, "key" -> op.key, "kind" -> op.kind, "ref" -> op.ref,
          "build_s" -> secs(tb - t0), "action_s" -> secs(t1 - tb), "latency_s" -> secs(t1 - t0),
          "drop_s" -> secs(t2 - t1), "ok" -> err.isEmpty, "error" -> err.getOrElse(""),
          "storage_bytes" -> storageBytes, "persisted_rdds" -> persisted)
      }
      Map("pass" -> pass, "traced" -> traced,
        "makespan_s" -> secs(lastEnd - firstStart - pausedAtLastEnd), "ops" -> recs)
    }
    val calibEnd = Bench.calibrate(spark, runs = 1)

    if (trace) {
      tracer.synchronized {
        tracer.jobs.foreach { case (jid, (g, st, en)) =>
          spans += Json(Map("id" -> s"job-$jid", "parent" -> g, "name" -> "spark.job",
            "start_ms" -> st, "end_ms" -> en))
        }
        tracer.stages.foreach { case (sid, (jid, st, en)) =>
          spans += Json(Map("id" -> s"stage-$sid", "parent" -> s"job-$jid", "name" -> "spark.stage",
            "start_ms" -> st, "end_ms" -> en))
        }
      }
      Files.write(Paths.get(s"$out/spans.jsonl"), (spans.mkString("\n") + "\n").getBytes(UTF_8))
    }

    val result = Map(
      "workload" -> a("workload"), "cores" -> cpus,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "origin_epoch_ms" -> originEpochMs,
      "setup_s" -> setupS, "calib_s_start" -> calibStart, "calib_s_end" -> calibEnd,
      "peak_rss_mb" -> peakRssMb, "passes" -> passRecs,
      "groups" -> (if (trace) tracer.synchronized(tracer.groups.map { case (k, v) => k -> v.c.toMap }.toMap)
                   else Map.empty)
    ) ++ workload.report
    Files.write(Paths.get(s"$out/result.json"), Json(result).getBytes(UTF_8))
    spark.stop()
  }
}

/** Minimal JSON encoder for the artifact (maps, sequences, strings, numbers). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => Bench.jsonStr(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => Bench.jsonStr(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => Bench.jsonStr(other.toString)
  }
}
