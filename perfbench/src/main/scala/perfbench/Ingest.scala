package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.merge.{ParquetTable, Scd}
import graft.operators.CdcProcessor
import graft.operators.CdcProcessor.{HashComplete, Mask, PiiRule}
import graft.pipeline.{Pipeline, TableConfig, Task}
import graft.sources.Sources
import graft.streaming.StreamSink

/** The three ingest targets, their control rows, and everything both ingest
  * workloads share: seeding, the per-batch filesystem counters, the read
  * set, space accounting and the final-state export the replay checks.
  *
  * Target layout under a root: lineitem (SCD1), orders + orders_history
  * (SCD4), customer (SCD2) — the layout `IngestionJob` derives from the
  * control rows' table names.
  */
final class Ingest(val spark: SparkSession, val input: String) {
  val tables: Seq[String] = Seq("lineitem", "orders", "customer")
  private val keys = Map("lineitem" -> "l_orderkey,l_linenumber",
    "orders" -> "o_orderkey", "customer" -> "c_custkey")
  private val partCol = Map("lineitem" -> "l_shipmonth", "orders" -> "o_month",
    "customer" -> "c_mktsegment")
  private val scdType = Map("lineitem" -> "scd1", "orders" -> "scd4", "customer" -> "scd2")
  private val omitted = Map("lineitem" -> "l_comment", "orders" -> "o_comment",
    "customer" -> "c_comment")

  /** Governance applied to every table; rules resolve by column name, so
    * they bite on customer only: the name is hashed, the phone masked. */
  val piiRules: Seq[PiiRule] = Seq(
    PiiRule("c_name", commonFlag = true, HashComplete),
    PiiRule("c_phone", commonFlag = true, Mask("[0-9]{4}$", "####")))

  def basePath(t: String) = s"$input/base/$t.parquet"
  def batchPath(t: String, i: Int, ext: String) = f"$input/batches/$t/$i%05d.$ext"

  /** Debezium `after` row type of a table, read from its staged snapshot. */
  def payload(t: String): StructType =
    spark.read.parquet(basePath(t)).schema("value").dataType.asInstanceOf[StructType]
      .apply("after").dataType.asInstanceOf[StructType]

  def process(raw: DataFrame, cfg: TableConfig): DataFrame =
    CdcProcessor.process(raw, omittedCols = cfg.omittedCols, piiRules = piiRules,
      joinKeys = graft.merge.MergeInto.extractJoinKeys(cfg.joinKeys))

  /** `table_details` control rows, parsed by `TableConfig.fromRow`. The SCD2
    * insert map names every processed column, so it is derived from the
    * processed schema of the customer snapshot. */
  val configs: Map[String, TableConfig] = {
    val scd1Cond =
      """[{"condtionType":"match","condition":"updates.row_active = false","deleteOption":true},
        | {"condtionType":"match"},
        | {"condtionType":"notmatch","condition":"updates.row_active = true"}]""".stripMargin
    val custCols = CdcProcessor.process(spark.read.parquet(basePath("customer")),
      omittedCols = Seq(omitted("customer")), piiRules = piiRules,
      joinKeys = Seq("c_custkey")).columns.toSeq
    val insertMap = (custCols.map(c => s""""$c":"updates.$c"""") ++ Seq(
      """"current_flag":"true"""", """"eff_date":"updates.updated_at"""",
      """"expiry_date":"CAST(NULL AS BIGINT)"""")).mkString("{", ",", "}")
    val scd2Cond =
      s"""{"matchCondition":"target.current_flag = true AND (target.hashed_jk <> updates.hashed_jk OR target.row_active <> updates.row_active)",
         | "updateMap":{"current_flag":"false","expiry_date":"updates.updated_at"},
         | "insertMap":$insertMap}""".stripMargin
    val cond = Map("lineitem" -> scd1Cond, "orders" -> "", "customer" -> scd2Cond)
    val schema = StructType(Seq("pipeline_def_id", "table_name", "scd_type", "join_key",
      "partition_id_col", "updated_at_col", "omitted_cols", "merge_cond")
      .map(StructField(_, StringType)))
    val rows = tables.map(t => Row(s"pb_$t", t, scdType(t), keys(t), partCol(t),
      "updated_at", omitted(t), cond(t)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).collect()
      .map(r => TableConfig.fromRow(r)).map(c => c.tableName -> c).toMap
  }

  def table(root: String, t: String): ParquetTable =
    new ParquetTable(spark, s"$root/$t", configs(t).partitionKeys)
  def history(root: String): ParquetTable = new ParquetTable(spark, s"$root/orders_history")

  /** Target roots one table's batches write to. */
  def rootsOf(root: String, t: String): Seq[String] =
    if (t == "orders") Seq(s"$root/orders", s"$root/orders_history") else Seq(s"$root/$t")
  def allRoots(root: String): Seq[String] = tables.flatMap(rootsOf(root, _))

  /** The SCD write of one processed batch, dispatched by SCD type as
    * `IngestionJob.writeBatch` does. */
  def write(root: String, t: String, processed: DataFrame): Unit = {
    val cfg = configs(t)
    val tbl = table(root, t)
    cfg.scdType match {
      case "scd2" =>
        val (mc, um, im) = cfg.scd2Spec.get
        Scd.writeScd2(tbl, processed, cfg.joinKeys, mc, um, im, dedupOrderCols = cfg.dedupKeys)
      case "scd4" =>
        Scd.writeScd4(tbl, history(root), processed, cfg.joinKeys, cfg.updatedAtCol,
          dedupOrderCols = cfg.dedupKeys)
      case _ =>
        Scd.writeScd1(tbl, processed, cfg.joinKeys, cfg.matched, cfg.notMatched,
          dedupOrderCols = cfg.dedupKeys)
    }
  }

  /** The streaming sink of one target, built once per stream so its tables
    * keep their commit-log caches across micro-batches. */
  def streamWriter(root: String, t: String): (DataFrame, Long) => Unit = {
    val cfg = configs(t)
    cfg.scdType match {
      case "scd2" =>
        val (mc, um, im) = cfg.scd2Spec.get
        StreamSink.scd2Batch(table(root, t), cfg.joinKeys, mc, um, im, cfg.dedupKeys)
      case "scd4" =>
        StreamSink.scd4Batch(table(root, t), history(root), cfg.joinKeys, cfg.updatedAtCol,
          cfg.dedupKeys)
      case _ =>
        StreamSink.scd1Batch(table(root, t), cfg.joinKeys, cfg.matched, cfg.notMatched,
          cfg.dedupKeys)
    }
  }

  /** Create the three targets from the staged snapshots through the same
    * reader, processor and SCD writers the batches use, one thread per
    * table as `IngestionJob.run` fans pipelines out. */
  def seed(root: String): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    implicit val ec: ExecutionContext = ExecutionContext.global
    val fs = tables.map(t => Future {
      write(root, t, process(Sources.parquet(spark, basePath(t)), configs(t)).localCheckpoint())
    })
    fs.foreach(Await.result(_, Duration.Inf))
  }

  /** One table-batch of the traced runs, composed from the same calls as
    * bench-defined pipeline tasks: sources (read and materialize),
    * operators.cdc (process and materialize), merge (the SCD write) and
    * pipeline.journal. Each task runs inside a span of `unit`; the rows read
    * and processed land in `rowsIn` / `rowsOut` under `unit`. */
  def tracedPipeline(tracer: Tracer, t: String, unit: String, read: () => DataFrame,
                     merge: DataFrame => Unit, journalStep: () => Unit,
                     rowsIn: java.util.Map[String, Long],
                     rowsOut: java.util.Map[String, Long]): Pipeline = {
    val cfg = configs(t)
    val p = new Pipeline(s"${cfg.pipelineDefId}_$t", spark)
    val steps = Seq[(String, Map[String, DataFrame] => Map[String, DataFrame])](
      "sources" -> { _ =>
        val r = read().localCheckpoint()
        rowsIn.put(unit, r.count())
        Map("rawdf" -> r)
      },
      "operators.cdc" -> { in =>
        val b = process(in("rawdf"), cfg).localCheckpoint()
        rowsOut.put(unit, b.count())
        Map("processedDf" -> b)
      },
      s"merge.${cfg.scdType}" -> { in => merge(in("processedDf")); Map.empty },
      "pipeline.journal" -> { _ => journalStep(); Map.empty })
    steps.zipWithIndex.foreach { case ((layer, f), i) =>
      val task = new Task {
        val name = s"${t}_$layer"
        def run(s: SparkSession, in: Map[String, DataFrame]) = tracer.span(layer, unit, "unit")(f(in))
      }
      if (i == 0) p.addTask(task) else p.addAfter(s"${t}_${steps(i - 1)._1}", task)
    }
    p
  }

  /** The first task failure of a traced pipeline. */
  def failure(p: Pipeline, t: String): Throwable =
    Seq("sources", "operators.cdc", s"merge.${configs(t).scdType}", "pipeline.journal")
      .flatMap(l => p.errorOf(s"${t}_$l")).headOption
      .getOrElse(new IllegalStateException(s"pipeline ${p.name} failed"))

  // ---- per-batch filesystem counters ------------------------------------

  /** What one batch did to a set of target roots, from listings taken
    * before and after it. */
  def tableDelta(before: Map[String, Map[String, Long]],
                 after: Map[String, Map[String, Long]]): Map[String, Double] = {
    var touched, rewritten, added, hist = 0L
    after.foreach { case (root, now) =>
      val was = before.getOrElse(root, Map.empty)
      val data = (m: Map[String, Long]) =>
        m.filter { case (k, _) => !k.startsWith("_graft_log/") && k.endsWith(".parquet") }
      val (d0, d1) = (data(was), data(now))
      val newFiles = d1.filterNot { case (k, _) => d0.contains(k) }
      val gone = d0.keySet -- d1.keySet
      // a snapshot table writes a fresh snap/vN: count it as one partition
      val parts = (newFiles.keySet ++ gone).map(k =>
        if (k.startsWith("snap/")) "snap" else Fs.partOf(k))
      val oldParts = d0.keySet.map(k => if (k.startsWith("snap/")) "snap" else Fs.partOf(k))
      touched += parts.size
      rewritten += parts.count(oldParts.contains)
      added += newFiles.values.sum
      if (root.endsWith("_history")) hist += newFiles.values.sum
    }
    Map("parts_touched" -> touched.toDouble, "parts_rewritten" -> rewritten.toDouble,
      "bytes_written" -> added.toDouble, "history_bytes" -> hist.toDouble)
  }

  def listings(roots: Seq[String]): Map[String, Map[String, Long]] =
    roots.map(r => r -> Fs.listing(r)).toMap

  /** Seconds per `latestVersion` call, averaged over the given tables. */
  def latestVersionSeconds(tbls: Seq[ParquetTable]): Double = {
    val (_, s) = Harness.time(tbls.foreach(_.latestVersion))
    s / tbls.size
  }

  /** End-of-run table state: live data files and commit-log versions. */
  def tableState(root: String): Map[String, Double] = {
    val ls = allRoots(root).map(Fs.listing)
    Map("files_live" -> ls.map(l => Fs.live(l).size).sum.toDouble,
      "log_versions" -> ls.map(Fs.logVersions).sum.toDouble)
  }

  /** Bytes under the target roots (data, snapshots, log) over live bytes. */
  def spaceAmp(root: String): Double = {
    val ls = allRoots(root).map(Fs.listing)
    ls.map(_.values.sum).sum.toDouble / ls.map(l => Fs.live(l).values.sum).sum
  }

  /** The fixed read set over the final targets, timed. */
  def readSet(root: String, lookups: Seq[Long]): Double = Harness.time {
    ReadSet.run(
      lineitem = table(root, "lineitem").read, month = col("l_shipmonth"),
      orders = table(root, "orders").read.filter(!col("deleted_flag")),
      orderDate = "updated_at",
      customerDim = table(root, "customer").read,
      ordersHistory = Some(history(root).read), lookups = lookups)
  }._2

  /** Write each final target as plain parquet for the replay check. */
  def export(root: String, out: String): Map[String, String] = {
    val finals = Map("lineitem" -> table(root, "lineitem"), "orders" -> table(root, "orders"),
      "orders_history" -> history(root), "customer" -> table(root, "customer"))
    finals.map { case (n, t) =>
      val p = s"$out/$n"
      t.read.coalesce(1).write.mode("overwrite").parquet(p)
      n -> p
    }
  }
}

/** The read set: a current-state scan and aggregate, a point-in-time join
  * against an SCD2 dimension, an SCD4 history lookup, and point lookups by
  * key. */
object ReadSet {
  def run(lineitem: DataFrame, month: org.apache.spark.sql.Column, orders: DataFrame,
          orderDate: String, customerDim: DataFrame, ordersHistory: Option[DataFrame],
          lookups: Seq[Long]): Unit = {
    lineitem.groupBy(month).agg(count(lit(1)), sum(col("l_extendedprice"))).collect()
    Scd.scd2TemporalJoin(orders, customerDim, "o_custkey", "c_custkey", orderDate)
      .agg(count(lit(1))).collect()
    ordersHistory.foreach(_.filter(col("o_orderkey").isin(lookups: _*)).collect())
    lookups.foreach(k => orders.filter(col("o_orderkey") === k).collect())
  }
}
