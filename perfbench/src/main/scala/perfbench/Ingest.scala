package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, concat, lit, timestamp_millis}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.sources.{JsonLogs, ManifestTable}
import graft.streaming.EventStream

/** The `ingest_table` workload: the write path beside the read path.
  *
  * Seeded documents-shaped JSON-lines batch files — some lines behind a
  * garbage prefix, some poison lines, some redelivered or copied texts —
  * go through a file-source stream (`AvailableNow`, one file per
  * micro-batch), `JsonLogs.parse` and `EventStream.streamingDedup`;
  * every micro-batch commits through `ManifestTable.appendWithStats`.
  * A seeded single-client op mix then runs on that table in rounds:
  * merge/upsert, update, delete, `compactSmall` plus `vacuum`, point and
  * range reads, keys skewed toward recent ones.
  *
  * The benchmark keeps its own model of the table (doc_id → row): every
  * read is checked against it, and so is the final snapshot.
  */
object Ingest {
  private val Vocab = ("spark window merge table column vector stream value data small " +
    "join filter big group hash customer sort order slow line part fast row the agg " +
    "key query a scan batch").split(" ")
  private val Langs = Array("en", "zh", "de", "fr", "es")
  private val Base = 1704067200000L // 2024-01-01T00:00:00Z
  private val BatchFiles = 3
  private val LinesPerFile = 400
  private val CopiedIdBase = 1000000000L

  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("ts_ms", LongType),
    StructField("rev", LongType)))

  final case class Doc(id: Long, text: String, lang: String, tsMs: Long, rev: Long) {
    def json: String =
      s"""{"doc_id":$id,"text":"$text","lang":"$lang","ts_ms":$tsMs,"rev":$rev}"""
  }

  private def words(rnd: scala.util.Random, n: Int): String =
    Seq.fill(n)(Vocab(rnd.nextInt(Vocab.length))).mkString(" ")

  /** The ingest input: the batch files under `dir`, their size, and the
    * docs the table must hold after ingest. */
  final case class Batches(dir: String, docs: Seq[Doc], bytes: Long)

  /** Writes the seeded batch files under `work` (untimed, before set-up). */
  def inputs(work: String, seed: Long): Batches = {
    val dir = s"$work/in"
    val (docs, bytes) = writeBatches(dir, new scala.util.Random(seed), BatchFiles)
    Batches(dir, docs, bytes)
  }

  /** Opening the input, timed in set-up: the batch files read and parsed
    * once, as a static DataFrame. */
  def open(spark: SparkSession, in: Batches): Unit =
    JsonLogs.parse(spark.read.text(in.dir), schema).count()

  /** Writes the batch files and returns the docs the table must hold
    * after ingest: every original line, none of the poison lines, and
    * no second copy of a text (copies come from the previous file, well
    * inside the one-hour dedup watermark, so they always drop). */
  def writeBatches(dir: String, rnd: scala.util.Random, files: Int): (Seq[Doc], Long) = {
    Files.createDirectories(Paths.get(dir))
    val kept = mutable.ArrayBuffer.empty[Doc]
    var prev = Seq.empty[Doc]
    var bytes = 0L
    var next = 0L
    for (f <- 0 until files) {
      val docs = (0 until LinesPerFile).map { _ =>
        val id = next
        next += 1
        // the id token keeps every original text distinct
        Doc(id, s"${words(rnd, 8 + rnd.nextInt(30))} d$id", Langs(rnd.nextInt(Langs.length)),
          Base + id * 1000, 0L)
      }
      kept ++= docs
      val lines = mutable.ArrayBuffer.empty[String]
      docs.foreach { d =>
        val r = rnd.nextDouble()
        lines += (if (r < 0.1) s"ts=${d.tsMs} lvl=INFO ${d.json}"
                  else if (r < 0.15) s"@@${rnd.nextInt(1000)}@@${d.json}"
                  else d.json)
        if (rnd.nextDouble() < 0.03) lines += Seq("not json at all", "{\"doc_id\": broken",
          "", "}{")(rnd.nextInt(4))
      }
      prev.foreach { d =>
        val r = rnd.nextDouble()
        if (r < 0.04) lines.insert(rnd.nextInt(lines.size), d.json) // redelivered
        else if (r < 0.08) // same text under a new id
          lines.insert(rnd.nextInt(lines.size), d.copy(id = CopiedIdBase + d.id).json)
      }
      prev = docs
      val body = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      bytes += body.length
      // write then rename, so the stream never lists a half-written file
      val tmp = Paths.get(dir, s".batch-$f.tmp")
      Files.write(tmp, body)
      Files.move(tmp, Paths.get(dir, f"batch-$f%04d.jsonl"))
    }
    (kept.toSeq, bytes)
  }

  final case class StreamStats(batches: Int, batchMs: Seq[Double], inputRows: Long,
                               committedRows: Long, stateRows: Long, walMs: Seq[Double],
                               appendMs: Seq[Double], wallS: Double)

  /** Drains the batch files into the table through the stream. */
  def ingest(spark: SparkSession, in: String, table: String, ckpt: String): StreamStats = {
    val appendMs = mutable.ArrayBuffer.empty[Double]
    var committed = 0L
    val raw = spark.readStream.format("text").option("maxFilesPerTrigger", 1).load(in)
    val docs = JsonLogs.parse(raw, schema).withColumn("ts", timestamp_millis(col("ts_ms")))
    val t0 = System.nanoTime()
    val q = EventStream.streamingDedup(docs).writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (b: DataFrame, _: Long) =>
        val rows = b.drop("text_hash", "ts").persist()
        try {
          val n = rows.count()
          if (n > 0) {
            val c0 = System.nanoTime()
            ManifestTable.appendWithStats(spark, rows, table, "doc_id")
            appendMs += (System.nanoTime() - c0) / 1e6
            committed += n
          }
        } finally rows.unpersist()
        ()
      }
      .start()
    q.awaitTermination()
    val wall = (System.nanoTime() - t0) / 1e9
    val prog = q.recentProgress.filter(_.numInputRows > 0).toSeq
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress, k: String) =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    StreamStats(
      batches = prog.size,
      batchMs = prog.map(dur(_, "triggerExecution")),
      inputRows = prog.map(_.numInputRows).sum,
      committedRows = committed,
      stateRows = prog.lastOption.flatMap(_.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(0L),
      walMs = prog.map(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      appendMs = appendMs.toSeq,
      wallS = wall)
  }

  /** The op mix: a seeded single client against the table and its model. */
  final class Client(spark: SparkSession, dir: String, rnd: scala.util.Random,
                     model: mutable.Map[Long, Doc], var nextId: Long) {
    val plannedRatios = mutable.ArrayBuffer.empty[Double]
    /** the key range of the last read */
    var lastRange: Option[(Long, Long)] = None
    var payloadBytes = 0L
    /** rows the op changed by the model's count */
    var changed = 0L

    private def recent(): Long = {
      val u = rnd.nextDouble()
      math.max(0L, nextId - 1 - ((nextId * u * u * u).toLong))
    }

    private def rows(df: DataFrame): Seq[Doc] = df.collect().toSeq.map(r =>
      Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[Long]("ts_ms"), r.getAs[Long]("rev")))

    /** Files the last read planned, as a share of the live files (traced
      * rounds only: the manifest reads are not part of the op). */
    def recordPlanned(): Unit = lastRange.foreach { case (lo, hi) =>
      val live = ManifestTable.snapshotFiles(dir).size
      if (live > 0) plannedRatios +=
        ManifestTable.plannedFilesForRange(dir, "doc_id", lo, hi).size.toDouble / live
    }

    private def range(lo: Long, hi: Long): Boolean = {
      lastRange = Some((lo, hi))
      val got = rows(ManifestTable.readRange(spark, dir, "doc_id", lo, hi)).sortBy(_.id)
      got == model.valuesIterator.filter(d => d.id >= lo && d.id <= hi).toSeq.sortBy(_.id)
    }

    def point(): Boolean = { val id = recent(); range(id, id) }

    def rangeRead(): Boolean = { val lo = recent(); range(lo, lo + 49) }

    def merge(): Boolean = {
      val upd = Seq.fill(10)(recent()).distinct.flatMap(model.get)
        .map(d => d.copy(text = s"${words(rnd, 6)} m${d.id}", rev = d.rev + 1))
      val ins = (0 until 10).map { i =>
        Doc(nextId + i, s"${words(rnd, 6)} d${nextId + i}", Langs(rnd.nextInt(Langs.length)),
          Base + (nextId + i) * 1000, 0L)
      }
      nextId += ins.size
      val batch = upd ++ ins
      ManifestTable.mergeInto(spark, dir, spark.createDataFrame(
        spark.sparkContext.parallelize(batch.map(d =>
          Row(d.id, d.text, d.lang, d.tsMs, d.rev)), 1), schema), "doc_id",
        statCols = Seq("doc_id"))
      batch.foreach(d => model(d.id) = d)
      payloadBytes += batch.map(_.json.length.toLong).sum
      changed = batch.size
      true
    }

    def update(): Boolean = {
      val lo = recent()
      ManifestTable.updateWhere(spark, dir, col("doc_id").between(lo, lo + 9),
        Map("rev" -> (col("rev") + 1), "text" -> concat(col("text"), lit(" u"))),
        statCols = Seq("doc_id"))
      val hit = model.valuesIterator.filter(d => d.id >= lo && d.id <= lo + 9).toSeq
      hit.foreach(d => model(d.id) = d.copy(text = d.text + " u", rev = d.rev + 1))
      changed = hit.size
      true
    }

    def delete(): Boolean = {
      val lo = recent()
      ManifestTable.deleteWhere(spark, dir, col("doc_id").between(lo, lo + 4),
        statCols = Seq("doc_id"))
      val hit = model.keysIterator.filter(id => id >= lo && id <= lo + 4).toSeq
      hit.foreach(model.remove)
      changed = hit.size
      true
    }

    def compact(): Boolean = {
      ManifestTable.compactSmall(spark, dir, minBytes = 1L << 20, statCols = Seq("doc_id"))
      true
    }

    def vacuum(): Boolean = { ManifestTable.vacuum(dir, keepVersions = 1, minAgeMs = 0L); true }

    /** One round: a fixed mix, so rounds are comparable; the seed picks keys. */
    val round: Seq[(String, () => Boolean)] = Seq(
      "merge" -> (() => merge()), "point_read" -> (() => point()),
      "update" -> (() => update()), "range_read" -> (() => rangeRead()),
      "point_read" -> (() => point()), "delete" -> (() => delete()),
      "point_read" -> (() => point()), "compact" -> (() => compact()),
      "vacuum" -> (() => vacuum()), "range_read" -> (() => rangeRead()))
  }

  private val RewriteOps = Set("merge", "update", "delete")
  private val CommitOps = RewriteOps + "compact"

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dirBytes).sum).getOrElse(0L)
    else f.length()

  def run(ctx: Main.Ctx, in: Batches): Outcome = {
    val spark = ctx.spark
    // the batch files took the run's seed; the op mix takes the next one
    val rnd = new scala.util.Random(ctx.seed + 1)

    // the ingest runs first (its figures are per-layer only)
    val table = s"${ctx.work}/table"
    val (docs, inBytes) = (in.docs, in.bytes)
    val st = ingest(spark, in.dir, table, s"${ctx.work}/ckpt")
    val model = mutable.Map(docs.map(d => d.id -> d): _*)
    val client = new Client(spark, table, rnd, model, docs.size.toLong)
    val firstTimed = Main.sinceStart()
    ctx.heap.sample()

    val sc = spark.sparkContext
    val ops = mutable.ArrayBuffer.empty[Main.Op]
    val plainRounds, tracedRounds = mutable.ArrayBuffer.empty[Double]
    var rewritten, changed = 0L
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var round = 0
    while (elapsed < ctx.seconds || plainRounds.size < Main.minUnits(ctx) ||
        (ctx.traced && tracedRounds.isEmpty)) {
      round += 1
      val tracedRound = ctx.traced && round % 2 == 0
      var roundS = 0.0
      client.round.zipWithIndex.foreach { case ((kind, op), i) =>
        val span = if (tracedRound) {
          ctx.probe.clear()
          ctx.probe.recording = true
          sc.setJobGroup(s"${Probe.GroupPrefix}$kind|$round|$i", kind)
          Some(ctx.trace.open(0, s"$kind#$round.$i", "table"))
        } else None
        client.changed = 0
        client.lastRange = None
        val o0 = System.nanoTime()
        val ok = try op() catch { case _: Throwable => false }
        val ms = (System.nanoTime() - o0) / 1e6
        span.foreach { s =>
          sc.clearJobGroup()
          ctx.trace.close(s)
          Probe.drain(sc)
          ctx.probe.recording = false
          ctx.probe.jobs.foreach(j => ctx.trace.add(s.id, s"job ${j.id}", "table", j.start,
            j.end, "site" -> j.site))
          client.recordPlanned()
          if (RewriteOps(kind)) {
            rewritten += ctx.probe.tasks.map(_.outRows).sum
            changed += client.changed
          }
        }
        roundS += ms / 1000
        ops += Main.Op(kind, s"$kind#$i", ms, ok, round, tracedRound)
      }
      (if (tracedRound) tracedRounds else plainRounds) += roundS
      ctx.heap.sample()
    }

    // the final snapshot against the model
    val snapshot = ManifestTable.read(spark, table).collect().map(r =>
      Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"), r.getAs[String]("lang"),
        r.getAs[Long]("ts_ms"), r.getAs[Long]("rev"))).sortBy(_.id).toSeq
    val expect = model.values.toSeq.sortBy(_.id)
    // both sorted by id: a missing, extra, duplicated or changed row
    // shows as a position that differs
    val mismatched = snapshot.zipAll(expect, null, null).count { case (a, b) => a != b }
    val tableBytes = dirBytes(new File(table))
    val logBytes = dirBytes(new File(s"$table/_manifest"))
    val payload = inBytes + client.payloadBytes

    val warm = ops.filter(_.unit > 1).toSeq // round 1 is warm-up
    val commits = st.appendMs ++ warm.filter(o => CommitOps(o.kind)).map(_.ms)
    val reads = warm.filter(_.kind.endsWith("_read")).map(_.ms)
    val layers = if (!ctx.traced) Map.empty[String, Double] else {
      def med(k: String) = Stats.median(warm.filter(_.kind == k).map(_.ms))
      Map(
        "table.append_ms" -> Stats.median(st.appendMs),
        "table.merge_ms" -> med("merge"), "table.update_ms" -> med("update"),
        "table.delete_ms" -> med("delete"), "table.compact_ms" -> med("compact"),
        "table.vacuum_ms" -> med("vacuum"), "table.point_read_ms" -> med("point_read"),
        "table.range_read_ms" -> med("range_read"),
        "table.commits" -> ManifestTable.latestVersion(table).map(_ + 1.0).getOrElse(0.0),
        "table.live_files" -> ManifestTable.snapshotFiles(table).size.toDouble,
        "table.log_bytes" -> logBytes.toDouble,
        "table.files_planned_ratio" -> Stats.median(client.plannedRatios.toSeq),
        "table.rewrite_ratio" -> (if (changed > 0) rewritten.toDouble / changed else 0.0),
        "table.write_amp" -> tableBytes.toDouble / payload,
        "streaming.batches" -> st.batches.toDouble,
        "streaming.batch_ms" -> Stats.median(st.batchMs),
        "streaming.input_rows" -> st.inputRows.toDouble,
        "streaming.dropped_rows" -> (st.inputRows - st.committedRows).toDouble,
        "streaming.state_rows" -> st.stateRows.toDouble,
        "streaming.commit_ms" -> Stats.median(st.walMs),
        "streaming.rows_per_s" -> st.committedRows / st.wallS,
        "trace.wall_s" -> Stats.median(tracedRounds.toSeq),
        "table.commit_p50_ms" -> Stats.median(commits),
        "table.commit_tail_ms" -> Stats.tail(commits)._1,
        "table.read_p50_ms" -> Stats.median(reads),
        "table.read_tail_ms" -> Stats.tail(reads)._1)
    }
    Outcome(
      units = plainRounds.toSeq, ops = ops.toSeq,
      checks = Map(
        "ingested_rows" -> st.committedRows, "expected_rows_after_ingest" -> docs.size,
        "final_rows" -> snapshot.size, "model_rows" -> expect.size,
        "model_mismatches" -> (mismatched + math.abs(st.committedRows - docs.size)),
        "ingest_s" -> st.wallS, "write_amp" -> tableBytes.toDouble / payload),
      layers = layers,
      overheadS = Main.overhead(tracedRounds.toSeq, plainRounds.toSeq), firstTimedS = firstTimed)
  }
}
