package perfbench

import java.util.concurrent.{Callable, Executors}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}

/** analytics_heavy: `SparkEntry.queries` run one at a time into a noop
  * sink, pass after pass, in a fixed order. The first two passes are
  * untimed: the first warms the JVM and writes every query's output as
  * parquet for the correctness check, the second finishes the warm-up. */
final class Analytics(spark: SparkSession, work: String, input: String,
                      order: Seq[String], tracer: Tracer, plantFailure: Boolean) {
  val planted = "planted_failure"
  private val names = if (plantFailure) order :+ planted else order

  private def query(name: String): DataFrame =
    if (name == planted) throw new IllegalStateException("planted query failure")
    else SparkEntry.queries(name)(spark, input)

  /** The two untimed passes, each running `setupThreads` queries at a time
    * and quiescing once at its end (a quiesce between queries would
    * unpersist a running query's checkpoints). The first writes every
    * query's output as parquet for the correctness check; the second runs
    * them again into the noop sink, because after the first pass alone the
    * next pass still ran 20-40% slower than the ones after it. Returns
    * name -> output directory (absent when the query threw). */
  def warmup(setupThreads: Int): Map[String, String] = {
    def pass[A](f: String => A): Seq[A] = {
      val pool = Executors.newFixedThreadPool(setupThreads)
      try names.map(n => pool.submit(new Callable[A] { def call(): A = f(n) })).map(_.get())
      finally { pool.shutdown(); Harness.quiesce(spark) }
    }
    val captured = pass { n =>
      val out = s"$work/outputs/$n"
      try { query(n).write.mode("overwrite").parquet(out); Some(n -> out) }
      catch { case _: Throwable => None }
    }
    pass { n =>
      try query(n).write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    captured.flatten.toMap
  }

  /** Timed passes: at least two, then more while `seconds` last. In the
    * traced run every other query of a pass is traced, shifting by one each
    * pass, so each query has traced and untraced runs in the same passes. */
  def run(seconds: Double, traceRun: Boolean, units: Units): Double = {
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 2 || (System.nanoTime() - t0) / 1e9 < seconds) {
      names.zipWithIndex.foreach { case (n, i) =>
        val traced = traceRun && (pass + i) % 2 == 1
        val (err, dt) = Harness.time {
          try {
            if (traced) tracer.span(n, s"$n:$pass")(
              query(n).write.format("noop").mode("overwrite").save())
            else query(n).write.format("noop").mode("overwrite").save()
            ""
          } catch { case e: Throwable => e.toString }
        }
        units.add(Sample(n, pass, if (err.isEmpty) dt else 0.0, 0, err.isEmpty, traced, err))
        Harness.quiesce(spark)
      }
      pass += 1
    }
    (System.nanoTime() - t0) / 1e9
  }

  def layers(): Map[String, Double] = order.flatMap { n =>
    val spans = tracer.named(n)
    val m = tracer.sparkMetrics(n)
    Seq(s"operators.${n}_s" -> Harness.median(spans.map(_.seconds))) ++
      Seq("jobs", "stages", "task_s", "shuffle_bytes").map(k => s"operators.$n.$k" -> m(k))
  }.toMap

  /** The read set over the analytics tables: the same shapes as the ingest
    * read set, with the customer table as a one-version dimension. */
  def readSet(lookups: Seq[Long]): Double = Harness.time {
    val orders = Tables.load(spark, input, "orders")
      .withColumn("o_date_s", unix_timestamp(col("o_orderdate")))
    val dim = Tables.load(spark, input, "customer")
      .withColumn("eff_date", lit(0L)).withColumn("expiry_date", lit(null).cast("long"))
    ReadSet.run(
      lineitem = Tables.load(spark, input, "lineitem"),
      month = date_format(col("l_shipdate"), "yyyy-MM"),
      orders = orders, orderDate = "o_date_s", customerDim = dim,
      ordersHistory = None, lookups = lookups)
  }._2

  /** Bytes the workload keeps on disk (its inputs plus whatever the queries
    * left in their scratch directories) over the bytes of its inputs. */
  def spaceAmp(tmp: String): Double =
    (Fs.bytes(input) + Fs.bytes(tmp)).toDouble / Fs.bytes(input)
}
