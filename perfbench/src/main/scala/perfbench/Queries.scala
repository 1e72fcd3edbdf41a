package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}

import graft.SparkEntry
import graft.sources.Tables

/** The two query workloads: closed loops over a fixed key list, one
  * query at a time from one client thread, each result written to the
  * `noop` sink (the whole plan runs, nothing is kept).
  *
  * A run first writes every key's output to parquet once, untimed; the
  * launcher hash-compares those outputs with DuckDB running the key's
  * oracle SQL. That pass is also the JIT and codegen warm-up. Timed
  * passes then repeat the keys in a seeded order until the run's time
  * is up (the first of them counts as warm-up). In a traced run, untraced and traced passes alternate, so
  * the record carries the tracing overhead beside the layer figures.
  */
object Queries {
  /** Small inputs (sf0.1), fixed costs first: a three-table open (q3),
    * build-time jobs and broadcasts (ann_bruteforce), the graft.plans
    * rules (group top-k, sessionize) and a word count whose exec is a
    * few tasks. */
  val serialKeys: Seq[String] = Seq(
    "q3_top_orders", "ann_bruteforce", "q_group_topk", "q_sessionize_plan", "q_wordcount")

  /** Ten times the data (sf1), exec first: a five-way join with shuffles
    * (q9) and the reference's own JSON logs → join → ratio pipeline
    * (ctr_referrer). */
  val scaleKeys: Seq[String] = Seq("q9_profit", "ctr_referrer")

  private val Layers = Seq(
    "sources.open_s", "sources.open_jobs", "sources.input_bytes", "sources.input_rows",
    "queries.build_s", "queries.build_jobs", "queries.build_stages",
    "plans.plan_s", "plans.exchanges", "plans.broadcasts",
    "exec.exec_s", "exec.stages", "exec.tasks", "exec.task_run_s", "exec.cpu_s",
    "exec.serial_s", "exec.max_task_ms", "exec.shuffle_write_bytes",
    "exec.shuffle_read_bytes", "exec.spill_bytes", "exec.gc_s")

  /** Opening the inputs, timed in set-up: every table of the corpus. */
  def open(spark: SparkSession, data: String): Unit =
    Tables.names.foreach(Tables(spark, data, _))

  def run(ctx: Main.Ctx, keys: Seq[String]): Outcome = {
    val spark = ctx.spark
    val fns = keys.map(k => k -> SparkEntry.all(k)).toMap

    // untimed: outputs for the oracle compare, doubling as the warm-up
    val out = s"${ctx.work}/outputs"
    val broken = mutable.LinkedHashMap.empty[String, String]
    keys.foreach { k =>
      try fns(k).fn(spark, ctx.data).write.mode("overwrite").parquet(s"$out/$k")
      catch { case e: Throwable => broken(k) = String.valueOf(e.getMessage).take(300) }
    }
    Json.write(s"$out/oracle_sql.json",
      keys.flatMap(k => fns(k).oracle.map(k -> _)).toMap)
    val firstTimed = Main.sinceStart()
    ctx.heap.sample()

    val rnd = new scala.util.Random(ctx.seed)
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val plainPasses, tracedPasses = mutable.ArrayBuffer.empty[Double]
    // per key, one layer map per traced pass
    val perKey = mutable.Map.empty[String, mutable.ArrayBuffer[Map[String, Double]]]
    val execTaskMs = mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (elapsed < ctx.seconds || plainPasses.size < Main.minUnits(ctx) ||
        (ctx.traced && tracedPasses.isEmpty)) {
      pass += 1
      val tracedPass = ctx.traced && pass % 2 == 0
      var passS = 0.0
      rnd.shuffle(keys).foreach { k =>
        val (s, ok) =
          if (tracedPass) timeTraced(ctx, k, pass, perKey, execTaskMs)
          else timePlain(ctx, k)
        passS += s
        // a pass that fails any key is still timed; the op records it
        ops += Main.Op("query", k, s * 1000, ok && !broken.contains(k), pass, tracedPass)
      }
      (if (tracedPass) tracedPasses else plainPasses) += passS
      ctx.heap.sample()
    }

    val layers =
      if (!ctx.traced) Map.empty[String, Double]
      else summarize(ctx, perKey.view.mapValues(_.toSeq).toMap, execTaskMs.toSeq)
    Outcome(
      units = plainPasses.toSeq, ops = ops.toSeq,
      checks = Map("keys" -> keys, "broken_keys" -> broken),
      layers = layers,
      overheadS = Main.overhead(tracedPasses.toSeq, plainPasses.toSeq), firstTimedS = firstTimed)
  }

  private def timePlain(ctx: Main.Ctx, k: String): (Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try {
      SparkEntry.all(k).fn(ctx.spark, ctx.data).write.format("noop").mode("overwrite").save()
      true
    } catch { case _: Throwable => false }
    ((System.nanoTime() - t0) / 1e9, ok)
  }

  /** One key, split into build (QueryDef.fn), plan (executedPlan) and
    * exec (the noop write), each under its own job group. */
  private def timeTraced(ctx: Main.Ctx, k: String, pass: Int,
                         perKey: mutable.Map[String, mutable.ArrayBuffer[Map[String, Double]]],
                         execTaskMs: mutable.ArrayBuffer[Double]): (Double, Boolean) = {
    val sc = ctx.spark.sparkContext
    val tr = ctx.trace
    val group = s"${Probe.GroupPrefix}$k|$pass|"
    ctx.probe.clear()
    ctx.probe.recording = true
    val t0 = System.nanoTime()
    val top = tr.open(0, s"$k#$pass", "key")
    var df: DataFrame = null
    var plan: SparkPlan = null
    val ok = try {
      sc.setJobGroup(group + "build", k)
      val build = tr.open(top.id, "build", "queries")
      try df = SparkEntry.all(k).fn(ctx.spark, ctx.data) finally tr.close(build)
      sc.setJobGroup(group + "plan", k)
      val p = tr.open(top.id, "plan", "plans")
      try plan = df.queryExecution.executedPlan finally tr.close(p)
      sc.setJobGroup(group + "exec", k)
      val e = tr.open(top.id, "exec", "exec")
      try df.write.format("noop").mode("overwrite").save() finally tr.close(e)
      true
    } catch { case _: Throwable => false }
    finally {
      sc.clearJobGroup()
      tr.close(top)
    }
    val dt = (System.nanoTime() - t0) / 1e9
    Probe.drain(sc)
    ctx.probe.recording = false
    val spans = tr.spans.filter(_.parent == top.id).map(s => s.name -> s).toMap
    def ms(n: String) = spans.get(n).map(s => (s.end - s.start).toDouble).getOrElse(0.0)
    val jobs = ctx.probe.jobs.toSeq
    val tasks = ctx.probe.tasks.toSeq
    val buildJobs = jobs.filter(_.group.endsWith("|build"))
    val (open, built) = buildJobs.partition(_.inSources)
    spans.get("build").foreach { b =>
      buildJobs.foreach(j => tr.add(b.id, s"job ${j.id}",
        if (j.inSources) "sources" else "queries", j.start, j.end, "site" -> j.site))
    }
    val execTasks = tasks.filter(_.group.endsWith("|exec"))
    val openS = open.map(_.ms).sum / 1000.0
    val exec = spans.get("exec")
    val stages = execTasks.map(_.stage).distinct.size
    val (exchanges, broadcasts) = Option(plan).map(countExchanges).getOrElse((0, 0))
    execTaskMs ++= execTasks.map(_.ms.toDouble)
    val layer = Map(
      "sources.open_s" -> openS,
      "sources.open_jobs" -> open.size.toDouble,
      // what the key's scans read (the schema jobs read footers only)
      "sources.input_bytes" -> tasks.map(_.inBytes).sum.toDouble,
      "sources.input_rows" -> tasks.map(_.inRows).sum.toDouble,
      "queries.build_s" -> (ms("build") / 1000.0 - openS),
      "queries.build_jobs" -> built.size.toDouble,
      "queries.build_stages" -> built.map(_.stages).sum.toDouble,
      "plans.plan_s" -> ms("plan") / 1000.0,
      "plans.exchanges" -> exchanges.toDouble,
      "plans.broadcasts" -> broadcasts.toDouble,
      "exec.exec_s" -> ms("exec") / 1000.0,
      "exec.stages" -> stages.toDouble,
      "exec.tasks" -> execTasks.size.toDouble,
      "exec.task_run_s" -> execTasks.map(_.runMs).sum / 1000.0,
      "exec.cpu_s" -> execTasks.map(_.cpuNs).sum / 1e9,
      "exec.serial_s" -> exec.map(e => Probe.serialMs(
        execTasks.map(t => t.launch -> t.finish), e.start, e.end) / 1000.0).getOrElse(0.0),
      "exec.max_task_ms" -> (if (execTasks.isEmpty) 0.0 else execTasks.map(_.ms).max.toDouble),
      "exec.shuffle_write_bytes" -> execTasks.map(_.shuffleWrite).sum.toDouble,
      "exec.shuffle_read_bytes" -> execTasks.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> execTasks.map(_.spill).sum.toDouble,
      "exec.gc_s" -> execTasks.map(_.gcMs).sum / 1000.0,
      "wall_s" -> dt)
    layer.foreach { case (n, v) => top.attrs(n) = v }
    perKey.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += layer
    ctx.probe.clear()
    (dt, ok)
  }

  /** Shuffle and broadcast exchanges of the physical plan as planned
    * (AQE's initial plan: runtime re-planning is exec-layer work). */
  private def countExchanges(plan: SparkPlan): (Int, Int) = {
    var sh, bc = 0
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case x =>
        x match {
          case _: ShuffleExchangeLike => sh += 1
          case _: BroadcastExchangeLike => bc += 1
          case _ =>
        }
        x.children.foreach(walk)
        x.subqueries.foreach(walk)
    }
    walk(plan)
    (sh, bc)
  }

  /** Workload totals: per key, the median over traced passes; summed
    * over keys. Ratios are recomputed from the totals. */
  private def summarize(ctx: Main.Ctx, perKey: Map[String, Seq[Map[String, Double]]],
                        execTaskMs: Seq[Double]): Map[String, Double] = {
    val tot = (Layers :+ "wall_s").map { n =>
      n -> perKey.values.map(ps => Stats.median(ps.map(_(n)))).sum
    }.toMap
    val maxTask = if (perKey.isEmpty) 0.0
      else perKey.values.map(ps => Stats.median(ps.map(_("exec.max_task_ms")))).max
    val medTask = Stats.median(execTaskMs)
    (tot - "wall_s") ++ Map(
      "trace.wall_s" -> tot("wall_s"),
      "exec.max_task_ms" -> maxTask,
      "exec.median_task_ms" -> medTask,
      "exec.skew" -> (if (medTask > 0) maxTask / medTask else 0.0),
      "exec.tasks_per_stage" ->
        (if (tot("exec.stages") > 0) tot("exec.tasks") / tot("exec.stages") else 0.0),
      "exec.busy_ratio" ->
        (if (tot("exec.exec_s") > 0) tot("exec.task_run_s") / (tot("exec.exec_s") * ctx.cores)
         else 0.0))
  }
}
