package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.pipeline.{IngestionJob, Journal, PipelineRunner}
import graft.sources.Sources

/** batch_scattered: one load = `IngestionJob.run` over the three control
  * rows (parallelism 3, with a `Journal`), each table reading its staged
  * change batch. A load's latency is the wall time of that call: read,
  * process, merge, commit and journal for all three targets.
  *
  * The traced run composes the same load from the same public calls as
  * bench-defined pipeline tasks (reader, processor, writer, journal) run by
  * `PipelineRunner`, each inside a span.
  */
final class BatchScattered(spark: SparkSession, work: String, ing: Ingest,
                           sizes: Map[String, Seq[Int]], tracer: Tracer,
                           plantFailure: Boolean) {
  private val root = s"$work/targets"
  private val journal = new Journal(spark, s"$work/journal")
  private val tables = ing.tables
  private val committed = mutable.Map(tables.map(_ -> mutable.ArrayBuffer[Int]()): _*)
  private var next = 0
  private var timedStart = Int.MaxValue

  // per-load counters of the traced run
  private val rowsIn = new ConcurrentHashMap[String, Long]()
  private val rowsOut = new ConcurrentHashMap[String, Long]()
  private val deltas = mutable.Map[Int, Map[String, Double]]()
  private val latest = mutable.Map[Int, Double]()
  private val control = mutable.ArrayBuffer[Double]()

  def batchCount: Int = sizes(tables.head).size

  /** The staged change batch of table `t` for load `i`. With the planted
    * failure, the first timed load's orders source throws. */
  private def source(t: String, i: Int): () => DataFrame = () => {
    if (plantFailure && t == "orders" && i == timedStart)
      throw new IllegalStateException(s"planted source failure: $t load $i")
    Sources.parquet(spark, ing.batchPath(t, i, "parquet"))
  }

  private def untracedLoad(i: Int): Map[String, Boolean] = {
    val res = IngestionJob.run(spark, tables.map(ing.configs), cfg => source(cfg.tableName, i),
      root, journal = Some(journal), parallelism = 3, piiRules = ing.piiRules)
    tables.map(t => t -> res.getOrElse(s"${ing.configs(t).pipelineDefId}_$t", false)).toMap
  }

  private def tracedLoad(i: Int): Map[String, Boolean] = {
    val unit = s"load:$i"
    val roots = ing.allRoots(root)
    val before = ing.listings(roots)
    val pipes = tables.map { t =>
      val cfg = ing.configs(t)
      val u = s"$t:$i"
      t -> ing.tracedPipeline(tracer, t, u, source(t, i), ing.write(root, t, _), () => {
        // the journal fact IngestionJob.writeBatch records
        val m = ing.table(root, t).lastMetrics
        val n = rowsOut.get(u)
        journal.logFact(cfg.pipelineDefId, java.util.UUID.randomUUID().toString, n,
          m.get("numSourceRows").map(_.toLong).getOrElse(n), m)
      }, rowsIn, rowsOut)
    }
    val t0 = System.nanoTime()
    val res = tracer.span("unit", unit) {
      val r = PipelineRunner.runAll(pipes.map(_._2), parallelism = 3)
      tracer.span("pipeline.journal", unit, "unit") {
        pipes.foreach { case (t, p) =>
          journal.logStatus(ing.configs(t).pipelineDefId, p.name,
            if (r.getOrElse(p.name, false)) "Finished" else "Error")
        }
      }
      r
    }
    // control-plane time per pipeline: its wall time minus its task spans
    tables.foreach { t =>
      val ss = tracer.all.filter(s => s.unit == s"$t:$i")
      if (ss.nonEmpty) control += (ss.map(_.end).max - t0) / 1e9 - ss.map(_.seconds).sum
    }
    deltas(i) = ing.tableDelta(before, ing.listings(roots)) + ("source_bytes" ->
      tables.map(t => Fs.bytes(ing.batchPath(t, i, "parquet"))).sum.toDouble)
    latest(i) = ing.latestVersionSeconds(tables.map(ing.table(root, _)) :+ ing.history(root))
    pipes.map { case (t, p) => t -> res.getOrElse(p.name, false) }.toMap
  }

  /** Runs the next load; returns its wall time, or 0 when it failed. */
  private def load(trace: Boolean, units: Units): Double = {
    val i = next
    next += 1
    val (res, dt) = Harness.time(if (trace) tracedLoad(i) else untracedLoad(i))
    tables.foreach(t => if (res(t)) committed(t) += i)
    val ok = res.values.forall(identity)
    val rows = tables.filter(res).map(sizes(_)(i).toLong).sum
    units.add(Sample("load", i, if (ok) dt else 0.0, rows, ok, trace,
      if (ok) "" else s"failed tables: ${tables.filterNot(res).mkString(",")}"))
    Harness.quiesce(spark)
    if (ok) dt else 0.0
  }

  /** Warm-up loads, untimed; they must all succeed. */
  def warmup(n: Int): Unit = {
    val sink = new Units
    (0 until n).foreach(_ => load(trace = false, sink))
    require(sink.all.forall(_.ok), s"warm-up failed: ${sink.all.filterNot(_.ok)}")
  }

  /** Timed loads until `seconds` have passed. The traced run alternates
    * untraced and traced loads. Returns the summed wall time of the loads
    * that committed, without the quiesce between them. */
  def run(seconds: Double, traceRun: Boolean, units: Units): Double = {
    timedStart = next
    val t0 = System.nanoTime()
    var busy = 0.0
    var k = 0
    while ((System.nanoTime() - t0) / 1e9 < seconds && next < batchCount) {
      busy += load(traceRun && k % 2 == 1, units)
      k += 1
    }
    busy
  }

  def committedBatches: Map[String, Seq[Int]] = committed.map { case (k, v) => k -> v.toSeq }.toMap
  def targetRoot: String = root
  def journalRoot: String = s"$work/journal"

  def layers(): Map[String, Double] = {
    val loads = deltas.keys.toSeq
    val units = rowsIn.keySet.asScala.toSeq
    def med(xs: Iterable[Double]) = Harness.median(xs.toSeq)
    val spanS = (n: String) => med(tracer.named(n).map(_.seconds))
    val journalFiles = Fs.listing(journalRoot).count(_._1.endsWith(".parquet")).toDouble
    Map(
      "sources.read_s" -> spanS("sources"),
      "sources.rows" -> med(units.map(u => rowsIn.get(u).toDouble)),
      "operators.cdc.process_s" -> spanS("operators.cdc"),
      "operators.cdc.rows_in" -> med(units.map(u => rowsIn.get(u).toDouble)),
      "operators.cdc.rows_out" -> med(units.map(u => rowsOut.getOrDefault(u, 0L).toDouble)),
      "table.parts_touched" -> med(loads.map(deltas(_)("parts_touched"))),
      "table.parts_rewritten" -> med(loads.map(deltas(_)("parts_rewritten"))),
      "table.bytes_rewritten_per_source_byte" ->
        med(loads.map(l => deltas(l)("bytes_written") / deltas(l)("source_bytes"))),
      "table.history_bytes_rewritten" -> med(loads.map(deltas(_)("history_bytes"))),
      "table.latest_version_s" -> med(latest.values),
      "pipeline.journal_s" -> spanS("pipeline.journal"),
      "pipeline.journal_jobs" -> tracer.sparkMetrics("pipeline.journal")("jobs"),
      "pipeline.journal_files" -> journalFiles / math.max(1, next),
      "pipeline.control_s" -> med(control)
    ) ++ ing.tableState(root).map { case (k, v) => s"table.$k" -> v } ++ Layers.merge(tracer)
  }
}
