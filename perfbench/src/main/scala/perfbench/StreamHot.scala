package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.pipeline.{Journal, PipelineRunner}
import graft.sources.Sources
import graft.streaming.{StreamSink, WriteStreamConfig}

/** stream_hot: three concurrent file streams (AvailableNow,
  * maxFilesPerTrigger = 1), one staged Debezium file per micro-batch, each
  * micro-batch processed by `CdcProcessor` and merged by the table's
  * `StreamSink` SCD sink inside `StreamSink.withJournal`.
  *
  * The timed sequence runs in rounds: each round offers the next file of
  * every stream (an atomic move into the stream's source directory) and
  * runs the three queries until they have drained it.
  * A micro-batch's latency is its trigger duration from the engine's
  * progress report: planning, offsets and WAL, the sink with its journal
  * write, and the commit log.
  *
  * With the planted failure, the first timed file of the orders stream is
  * a corrupt gzip file in place of its batch, so that micro-batch's read
  * throws and the orders query stops.
  */
final class StreamHot(spark: SparkSession, work: String, ing: Ingest,
                      sizes: Map[String, Seq[Int]], tracer: Tracer, plantFailure: Boolean) {
  private val root = s"$work/targets"
  private val journal = new Journal(spark, s"$work/journal")
  private val tables = ing.tables
  private val srcDir = tables.map(t => t -> s"$work/stream/$t").toMap
  private val writers = tables.map(t => t -> ing.streamWriter(root, t)).toMap
  private val payload = tables.map(t => t -> ing.payload(t)).toMap
  private val offered = mutable.Map(tables.map(_ -> 0): _*)
  private val failed = mutable.Set[String]()
  private val committed = mutable.Map(tables.map(_ -> mutable.ArrayBuffer[Int]()): _*)
  private var mtime = System.currentTimeMillis()
  private var timed = false
  private var planted = false

  // progress reports by query run
  private val progress = new ConcurrentHashMap[java.util.UUID, java.util.List[QueryProgressEvent]]()
  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      progress.computeIfAbsent(e.progress.runId,
        _ => java.util.Collections.synchronizedList(new java.util.ArrayList())).add(e)
  })

  // per-unit counters of the traced run
  private val rowsIn = new ConcurrentHashMap[String, Long]()
  private val rowsOut = new ConcurrentHashMap[String, Long]()
  private val deltas = new ConcurrentHashMap[String, Map[String, Double]]()
  private val latest = new ConcurrentHashMap[String, Double]()
  private val streamTimes = mutable.ArrayBuffer[(Double, Double)]() // (trigger, addBatch)

  def batchCount: Int = sizes(tables.head).size

  private def offer(t: String, n: Int): Int = {
    val k = math.min(n, batchCount - offered(t))
    (0 until k).foreach { _ =>
      val i = offered(t)
      val src = Paths.get(ing.batchPath(t, i, "json"))
      // distinct, increasing mtimes fix the order the file source reads them in
      mtime += 1000
      if (plantFailure && timed && !planted && t == "orders") {
        planted = true
        val bad = Files.write(Paths.get(srcDir(t), f"$i%05d.json.gz"), "not gzip\n".getBytes("UTF-8"))
        Files.setLastModifiedTime(bad, FileTime.fromMillis(mtime))
      } else {
        Files.setLastModifiedTime(src, FileTime.fromMillis(mtime))
        Files.move(src, Paths.get(srcDir(t), f"$i%05d.json"), StandardCopyOption.ATOMIC_MOVE)
      }
      offered(t) = i + 1
    }
    k
  }

  private def untraced(t: String): (DataFrame, Long) => Unit = {
    val cfg = ing.configs(t)
    StreamSink.withJournal(
      (batch, id) => writers(t)(ing.process(batch, cfg).localCheckpoint(), id),
      journal, cfg.pipelineDefId, s"${t}_stream")
  }

  /** The same calls as [[untraced]] composed as pipeline tasks (reader,
    * processor, writer, journal) run by `PipelineRunner` inside the
    * foreachBatch closure, each task inside a span, with the filesystem
    * counters taken around the micro-batch. A failed task fails the batch
    * the way `withJournal` does: journal the rows and status, rethrow. */
  private def traced(t: String): (DataFrame, Long) => Unit = {
    val cfg = ing.configs(t)
    val roots = ing.rootsOf(root, t)
    val tbls = if (t == "orders") Seq(ing.table(root, t), ing.history(root)) else Seq(ing.table(root, t))
    val task = s"${t}_stream"
    (batch, id) => {
      val unit = s"$t:$id"
      val before = ing.listings(roots)
      val p = ing.tracedPipeline(tracer, t, unit, () => batch, writers(t)(_, id),
        () => journal.logStatus(cfg.pipelineDefId, task, "Finished", s"batch $id"), rowsIn, rowsOut)
      val ok = tracer.span("unit", unit)(PipelineRunner.runAll(Seq(p), parallelism = 1)(p.name))
      if (!ok) {
        val e = ing.failure(p, t)
        try {
          journal.logErrorRows(cfg.pipelineDefId, batch, e.toString)
          journal.logStatus(cfg.pipelineDefId, task, "Error", s"batch $id: ${e.getMessage}")
        } catch { case _: Throwable => () }
        throw e
      }
      val d = ing.tableDelta(before, ing.listings(roots))
      val srcBytes = Files.size(Paths.get(srcDir(t), f"${id.toInt}%05d.json")).toDouble
      deltas.put(unit, d + ("source_bytes" -> srcBytes))
      latest.put(unit, ing.latestVersionSeconds(tbls))
    }
  }

  /** One round: offer, run the three queries to completion, collect their
    * micro-batches as units. Returns the round's wall time from the offer
    * until every query has terminated, or None when no stream had input. */
  private def round(trace: Boolean, units: Units, files: Int): Option[Double] = {
    val t0 = System.nanoTime()
    val live = tables.filterNot(failed.contains)
    val n = live.map(t => t -> offer(t, files)).toMap
    if (n.values.sum == 0) return None
    val queries = live.filter(n(_) > 0).map { t =>
      val df = Sources.cdcFileStream(spark, srcDir(t), payload(t), maxFilesPerTrigger = 1)
      val cfg = WriteStreamConfig(checkpointLocation = s"$work/ckpt/$t")
      t -> StreamSink.startForeachBatch(df, cfg, if (trace) traced(t) else untraced(t))
    }
    val errs = queries.map { case (t, q) =>
      t -> (try { q.awaitTermination(); "" } catch { case e: Throwable => e.toString })
    }.toMap
    val busy = (System.nanoTime() - t0) / 1e9
    queries.foreach { case (t, q) =>
      val err = errs(t)
      val runId = q.runId
      val expected = n(t)
      // progress events arrive asynchronously
      def done = Option(progress.get(runId)).map(_.asScala.count(_.progress.numInputRows > 0))
        .getOrElse(0)
      val deadline = System.nanoTime() + 10e9.toLong
      while (done < (if (err.isEmpty) expected else 0) && System.nanoTime() < deadline)
        Thread.sleep(20)
      val events = Option(progress.get(runId)).map(_.asScala.toList).getOrElse(Nil)
        .map(_.progress).filter(_.numInputRows > 0).sortBy(_.batchId)
      events.foreach { p =>
        // batch k of a stream is the k-th file offered to it (numInputRows
        // counts every read of the batch, so the staged size is the row count)
        val i = p.batchId.toInt
        val trig = p.durationMs.get("triggerExecution").toDouble / 1e3
        val add = Option(p.durationMs.get("addBatch")).map(_.toDouble / 1e3).getOrElse(0.0)
        units.add(Sample(t, i, trig, sizes(t)(i), ok = true, trace))
        committed(t) += i
        if (trace) streamTimes.synchronized(streamTimes += ((trig, add)))
      }
      if (err.nonEmpty) {
        failed += t
        units.add(Sample(t, committed(t).size, 0.0, 0, ok = false, trace, err))
      }
    }
    Some(busy)
  }

  /** Warm-up: the first micro-batches of every stream, untimed. */
  def warmup(n: Int): Unit = {
    tables.foreach(t => Fs.mkdirs(srcDir(t)))
    val sink = new Units
    require(round(trace = false, sink, n).isDefined, "no warm-up input")
    require(sink.all.forall(_.ok), s"warm-up failed: ${sink.all.filterNot(_.ok)}")
    Harness.quiesce(spark)
  }

  /** Timed rounds until `seconds` have passed, at least three, so that
    * `batch_growth` compares the first round with the last and one slow
    * round moves no median. Every round offers one file
    * per stream, so each micro-batch runs in the same setting: the three
    * streams start together and each commits one batch. (Sizing rounds by
    * the time left made the overlap of the streams differ run to run.) In
    * the traced run rounds alternate untraced and traced. Returns the
    * summed wall time of the rounds, without the quiesce between them. */
  def run(seconds: Double, traceRun: Boolean, units: Units): Double = {
    timed = true
    val t0 = System.nanoTime()
    var busy = 0.0
    var r = 0
    var more = true
    while (more && (r < 3 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      round(traceRun && r % 2 == 1, units, 1) match {
        case Some(s) => busy += s; r += 1; Harness.quiesce(spark)
        case None => more = false
      }
    }
    busy
  }

  def committedBatches: Map[String, Seq[Int]] = committed.map { case (k, v) => k -> v.toSeq }.toMap

  def targetRoot: String = root
  def journalRoot: String = s"$work/journal"

  /** Per-layer metrics of the traced micro-batches. */
  def layers(): Map[String, Double] = {
    val units = deltas.keySet.asScala.toSeq
    def med(f: String => Double, us: Seq[String] = units) = Harness.median(us.map(f))
    val spanS = (n: String) => Harness.median(tracer.named(n).map(_.seconds))
    val byUnit = tracer.all.groupBy(_.unit)
    val control = byUnit.values.flatMap { ss =>
      ss.find(_.name == "unit").map(u => u.seconds - ss.filter(_.parent == "unit").map(_.seconds).sum)
    }.toSeq
    val orderUnits = units.filter(_.startsWith("orders:"))
    val journalFiles = Fs.listing(journalRoot).count(_._1.endsWith(".parquet")).toDouble
    val journaled = offered.values.sum
    val (trig, add) = streamTimes.synchronized(streamTimes.toList).unzip
    Map(
      "sources.read_s" -> spanS("sources"),
      "sources.rows" -> med(u => rowsIn.get(u).toDouble),
      "operators.cdc.process_s" -> spanS("operators.cdc"),
      "operators.cdc.rows_in" -> med(u => rowsIn.get(u).toDouble),
      "operators.cdc.rows_out" -> med(u => rowsOut.get(u).toDouble),
      "table.parts_touched" -> med(u => deltas.get(u)("parts_touched")),
      "table.parts_rewritten" -> med(u => deltas.get(u)("parts_rewritten")),
      "table.bytes_rewritten_per_source_byte" ->
        med(u => deltas.get(u)("bytes_written") / deltas.get(u)("source_bytes")),
      "table.history_bytes_rewritten" -> med(u => deltas.get(u)("history_bytes"), orderUnits),
      "table.latest_version_s" -> med(u => latest.get(u)),
      "pipeline.journal_s" -> spanS("pipeline.journal"),
      "pipeline.journal_jobs" -> tracer.sparkMetrics("pipeline.journal")("jobs"),
      "pipeline.journal_files" -> journalFiles / math.max(1, journaled),
      "pipeline.control_s" -> Harness.median(control),
      "streaming.trigger_s" -> Harness.median(trig),
      "streaming.add_batch_s" -> Harness.median(add),
      "streaming.overhead_s" -> Harness.median(trig.zip(add).map { case (a, b) => a - b })
    ) ++ ing.tableState(root).map { case (k, v) => s"table.$k" -> v } ++ Layers.merge(tracer)
  }
}

/** Per-layer metric helpers shared by the workloads. */
object Layers {
  def merge(tracer: Tracer): Map[String, Double] =
    Seq("scd1", "scd2", "scd4").flatMap { s =>
      val n = s"merge.$s"
      val spans = tracer.named(n)
      if (spans.isEmpty) Nil
      else (s"${n}_s" -> Harness.median(spans.map(_.seconds))) +:
        tracer.sparkMetrics(n).toSeq.map { case (k, v) => s"$n.$k" -> v }
    }.toMap
}
