package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.{Bench, GraftSession}

/** What one workload run hands back to [[Main]]: the timed units
  * (a query pass or a table-op round), every timed operation, and the
  * traced per-layer figures when the run was traced. */
final case class Outcome(units: Seq[Double], ops: Seq[Main.Op],
                         checks: Map[String, Any], layers: Map[String, Double],
                         overheadS: Double, firstTimedS: Double)

/** Benchmark JVM: runs one workload for a fixed time and writes a run
  * record. `perfbench/run.py` builds the code, prepares the data,
  * starts this JVM, checks the outputs and prints the result line.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --data <dir> --work <dir> --out <record.json>
  */
object Main {
  /** One timed operation of timed unit `unit` (a pass or a round,
    * counted from 1). `key` names its slot: the query key, or the op's
    * place in an ingest round. */
  final case class Op(kind: String, key: String, ms: Double, ok: Boolean, unit: Int,
                      traced: Boolean)

  /** Untraced units a run makes, however short its time. The first
    * still pays JIT warm-up (it runs about a third slower) and is left
    * out of the statistics, so an untraced run keeps two for its
    * per-slot medians; a traced run keeps one to set against its traced
    * units. */
  def minUnits(ctx: Ctx): Int = if (ctx.traced) 2 else 3

  final case class Ctx(spark: SparkSession, seed: Long, seconds: Double, traced: Boolean,
                       data: String, work: String, probe: Probe, trace: Trace,
                       cores: Int, heap: HeapWatch)

  /** Peak post-GC used heap, sampled after an explicit GC between timed
    * units (outside the measured windows). */
  final class HeapWatch {
    var peakMb = 0.0
    def sample(): Unit = {
      // the first collection hands dead shuffles and broadcasts to
      // Spark's ContextCleaner thread; give it a moment, then collect
      // what it released, so the sample does not depend on its timing
      System.gc()
      Thread.sleep(100)
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      peakMb = math.max(peakMb, used)
    }
  }

  /** Tracing overhead: traced units against the untraced ones, less the
    * first (warm-up) unit. */
  def overhead(traced: Seq[Double], plain: Seq[Double]): Double =
    if (traced.isEmpty) 0.0 else Stats.median(traced) - Stats.median(plain.drop(1))

  /** Seconds since the JVM started: process start to the first timed op. */
  def sinceStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0

  /** The set-up every run pays: session start, a first job, and opening
    * the workload's inputs. */
  private def startSession(cores: Int, open: SparkSession => Unit): SparkSession = {
    val s = GraftSession.local(cores)
    s.range(1000).selectExpr("sum(id)").collect()
    open(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val cores = Runtime.getRuntime.availableProcessors
    val seed = opt("seed").toLong
    val (data, work) = (opt("data"), opt("work"))
    val weatherStart = Weather.sample()
    val batches = if (workload == "ingest_table") Some(Ingest.inputs(work, seed)) else None
    val open: SparkSession => Unit = batches match {
      case Some(in) => Ingest.open(_, in)
      case None => Queries.open(_, data)
    }

    // set up five times and keep the median: the first session also
    // pays class loading, so one sample would measure the JVM, not us.
    // The warm-up pass is not repeated; the record has the time from
    // process start to the first timed op as `setup_first_s`.
    val setupRuns = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (i <- 1 to 5) {
      val t0 = System.nanoTime()
      spark = startSession(cores, open)
      setupRuns += (System.nanoTime() - t0) / 1e9
      if (i < 5) spark.stop()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    val traced = opt("trace") == "1"
    if (traced) spark.sparkContext.addSparkListener(probe)
    val ctx = Ctx(spark, seed, opt("seconds").toDouble, traced,
      data, work, probe, new Trace, cores, new HeapWatch)

    val outcome = workload match {
      case "serial_sf01" => Queries.run(ctx, Queries.serialKeys)
      case "scale_sf1" => Queries.run(ctx, Queries.scaleKeys)
      case "ingest_table" => Ingest.run(ctx, batches.get)
      case other => sys.error(s"unknown workload: $other")
    }

    try spark.streams.active.foreach(_.stop()) catch { case _: Throwable => }
    spark.stop()
    val weatherEnd = Weather.sample()
    // threads that would keep the JVM alive after the session stopped
    val lingering = Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && !t.isDaemon && t != Thread.currentThread())
      .map(_.getName).sorted

    val ops = outcome.ops
    val plain = ops.filter(o => !o.traced && o.unit > 1)
    val (tailV, tailPct, tailN) = Stats.tail(plain.map(_.ms))
    val metrics = Map(
      "setup_s" -> Stats.median(setupRuns.toSeq),
      // the median unit, built slot by slot: the sum over slots of each
      // slot's median, so one slow sample moves it less than a whole unit
      "wall_s" -> plain.groupBy(_.key).values.map(o => Stats.median(o.map(_.ms))).sum / 1000,
      "peak_heap_mb" -> ctx.heap.peakMb,
      "op_p50_ms" -> Stats.median(plain.map(_.ms)))
    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> ctx.seed, "seconds" -> ctx.seconds,
      "traced" -> traced, "cores" -> cores,
      "metrics" -> metrics,
      // too few samples in a 10 s run for a steady tail: recorded, not a metric
      "op_tail" -> Map("ms" -> tailV, "percentile" -> tailPct, "samples" -> tailN),
      "attempted" -> ops.size, "failed" -> ops.count(!_.ok),
      "setup_runs_s" -> setupRuns,
      "setup_first_s" -> outcome.firstTimedS,
      "units_s" -> outcome.units,
      "ops" -> ops.map(o => Map("kind" -> o.kind, "key" -> o.key, "ms" -> o.ms, "ok" -> o.ok,
        "unit" -> o.unit, "traced" -> o.traced)),
      "checks" -> outcome.checks,
      "weather" -> Map(
        "start" -> weatherStart.json, "end" -> weatherEnd.json,
        "load_flag" -> (Bench.loadGate(weatherStart.la1, weatherStart.la5, cores) ||
          Bench.loadGate(weatherEnd.la1, weatherEnd.la5, cores)),
        "calib_drift_flag" -> Bench.calibDrift(weatherStart.calibS, Seq(weatherEnd.calibS)),
        "nondaemon_threads_after_stop" -> lingering.size,
        "nondaemon_thread_names" -> lingering))
    if (traced) {
      record("layers") = outcome.layers
      record("trace_overhead_s") = outcome.overheadS
      Json.write(s"${ctx.work}/trace_spans.json", ctx.trace.json)
    }
    Json.write(opt("out"), record)
    // the record is written; lingering non-daemon threads must not
    // keep the process alive (their count is in the record)
    sys.exit(0)
  }
}

/** Box weather around a run: load averages and a fixed CPU probe,
  * judged with `graft.Bench`'s own gate predicates so a loaded or
  * drifting run is visible from its record alone. */
final case class Weather(la1: Double, la5: Double, la15: Double, calibS: Double) {
  def json: Map[String, Any] =
    Map("loadavg" -> Seq(la1, la5, la15), "calib_s" -> calibS)
}

object Weather {
  @volatile private var sink = 0L

  /** 30 M xorshift steps, best of three after one discarded JIT pass:
    * fixed single-thread work that moves only with CPU contention. */
  private def calibrate(): Double = {
    def once(): Double = {
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      val t0 = System.nanoTime()
      while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
      sink = x
      (System.nanoTime() - t0) / 1e9
    }
    once()
    (1 to 3).map(_ => once()).min
  }

  def sample(): Weather = {
    val la = try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3)
      .map(_.toDouble).toSeq
    catch { case _: Throwable =>
      Seq(ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage, -1.0, -1.0)
    }
    Weather(la(0), la(1), la(2), calibrate())
  }
}
