package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.GraftSession

/** Self-checks of the benchmark's layer attribution, on the project's
  * sf0.001 corpus (`perfbench/data/sf0.001`). */
class LayerSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val work = Files.createTempDirectory("perfbench-spec").toString
  private val data = "data/sf0.001"
  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = GraftSession.local(2)
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def traced(keys: Seq[String]): Main.Ctx = {
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val ctx = Main.Ctx(spark, seed = 3, seconds = 0, traced = true, data = data,
      work = s"$work/run-${keys.mkString("-")}", probe = probe, trace = new Trace, cores = 2,
      heap = new Main.HeapWatch)
    val out = Queries.run(ctx, keys)
    spark.sparkContext.removeSparkListener(probe)
    assert(out.ops.forall(_.ok), out.ops)
    assert(out.layers.nonEmpty)
    ctx
  }

  test("the layer spans of each key sum to its traced wall time") {
    val ctx = traced(Seq("q3_top_orders", "q_wordcount", "emb_pca"))
    val keySpans = ctx.trace.spans.filter(_.layer == "key")
    assert(keySpans.size == 3)
    keySpans.foreach { k =>
      val kids = ctx.trace.spans.filter(_.parent == k.id)
      val layers = kids.filter(s => Set("build", "plan", "exec")(s.name))
      assert(layers.map(_.name).sorted == Seq("build", "exec", "plan"))
      val wall = k.end - k.start
      val sum = layers.map(s => s.end - s.start).sum
      // the spans are back to back; only the job-group switches fall
      // between them: at most 10 ms or 2 % of the key
      assert(math.abs(wall - sum) <= math.max(10L, wall / 50), s"${k.name}: $wall vs $sum")
      // open is part of build and never exceeds it
      val build = layers.find(_.name == "build").get
      val open = ctx.trace.spans.filter(s => s.parent == build.id && s.layer == "sources")
      assert(open.map(s => s.end - s.start).sum <= build.end - build.start)
    }
  }

  test("the parquet schema job of Tables.apply counts as sources.open") {
    val ctx = traced(Seq("q3_top_orders"))
    val jobs = ctx.trace.spans.filter(_.name.startsWith("job "))
    val schemaJobs = jobs.filter(_.attrs("site").toString.startsWith("graft.sources.Tables"))
    // q3 reads customer, orders and lineitem: one schema job each
    assert(schemaJobs.size >= 3, jobs.map(_.attrs))
    assert(schemaJobs.forall(_.layer == "sources"))
    val key = ctx.trace.spans.find(_.layer == "key").get
    assert(key.attrs("sources.open_jobs").asInstanceOf[Double] >= 3)
  }

  test("serial time comes from the union of task intervals") {
    // two overlapping tasks, a gap, one task alone, a tail gap: only
    // [50, 100) has two tasks running
    assert(Probe.serialMs(Seq(0L -> 100L, 50L -> 150L, 200L -> 300L), 0, 400) == 350)
    // tasks of concurrent stages never make the figure negative or exceed the window
    val s = Probe.serialMs(Seq(10L -> 90L, 0L -> 100L, 20L -> 30L), 0, 100)
    assert(s >= 0 && s <= 100)
    assert(Probe.serialMs(Nil, 5, 25) == 20)
  }

  test("the ingest workload's table matches its model") {
    val probe = new Probe
    val ctx = Main.Ctx(spark, seed = 5, seconds = 0, traced = false, data = "",
      work = s"$work/ingest", probe = probe, trace = new Trace, cores = 2,
      heap = new Main.HeapWatch)
    val out = Ingest.run(ctx, Ingest.inputs(ctx.work, ctx.seed))
    assert(out.checks("model_mismatches") == 0L, out.checks)
    assert(out.ops.forall(_.ok), out.ops.filterNot(_.ok))
  }
}
