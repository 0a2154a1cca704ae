package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Session settings pinned for every run, and the between-unit quiesce. */
object Harness {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** A local session with `parallelism` task slots and as many shuffle
    * partitions. */
  def session(work: String, parallelism: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$parallelism]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", parallelism.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Blocking unpersist of every cached block, then a full GC. Runs between
    * units, outside every timed window, so one unit's cleanup never lands
    * in the next unit's time. */
  def quiesce(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    System.gc()
  }

  def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Spark work attributed to job tags: the traced run tags each span with
  * `SparkContext.addJobTag`, and this listener sums the work of every job
  * carrying a tag. Listener events arrive asynchronously, so totals are read
  * only after [[settle]]. */
final class TagCounters extends SparkListener {
  final class Totals {
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val taskMs = new AtomicLong
    val cpuNs = new AtomicLong
    val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong
    val spillBytes = new AtomicLong
  }
  private val byTag = new ConcurrentHashMap[String, Totals]()
  private val stageTags = new ConcurrentHashMap[Int, Seq[String]]()
  private val events = new AtomicLong

  def totals(tag: String): Totals = byTag.computeIfAbsent(tag, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    events.incrementAndGet()
    val tags = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.startsWith("pb:"))).getOrElse(Nil)
    if (tags.nonEmpty) {
      tags.foreach { t =>
        val tt = totals(t)
        tt.jobs.incrementAndGet()
        tt.stages.addAndGet(e.stageIds.size)
      }
      e.stageIds.foreach(s => stageTags.put(s, tags))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    events.incrementAndGet()
    val tags = stageTags.get(e.stageId)
    val m = e.taskMetrics
    if (tags != null && m != null) tags.foreach { t =>
      val tt = totals(t)
      tt.taskMs.addAndGet(m.executorRunTime)
      tt.cpuNs.addAndGet(m.executorCpuTime)
      tt.gcMs.addAndGet(m.jvmGCTime)
      tt.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      tt.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until no listener event has arrived for a few polls. */
  def settle(): Unit = {
    var last = -1L
    var quiet = 0
    while (quiet < 3) {
      Thread.sleep(100)
      val now = events.get()
      if (now == last) quiet += 1 else quiet = 0
      last = now
    }
  }
}

/** One timed span of the traced run. */
final case class Span(name: String, unit: String, parent: String,
                      start: Long, end: Long, tag: String) {
  def seconds: Double = (end - start) / 1e9
}

/** Span recorder for the traced run. Spans are kept in memory and written
  * once at the end. With `enabled = false` every call runs its body bare. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  val counters = new TagCounters
  if (enabled) spark.sparkContext.addSparkListener(counters)
  private val spans = java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())
  private val seq = new AtomicLong

  def span[T](name: String, unit: String, parent: String = "")(f: => T): T =
    if (!enabled) f
    else {
      val tag = s"pb:$name:${seq.incrementAndGet()}"
      val sc = spark.sparkContext
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      try f
      finally {
        spans.add(Span(name, unit, parent, t0, System.nanoTime(), tag))
        sc.removeJobTag(tag)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq
  def named(name: String): Seq[Span] = all.filter(_.name == name)

  /** Per-span medians of the Spark counters of every span called `name`. */
  def sparkMetrics(name: String): Map[String, Double] = {
    val ts = named(name).map(s => counters.totals(s.tag))
    def med(f: counters.Totals => Double) = Harness.median(ts.map(f))
    Map(
      "jobs" -> med(_.jobs.get.toDouble),
      "stages" -> med(_.stages.get.toDouble),
      "task_s" -> med(_.taskMs.get / 1e3),
      "cpu_s" -> med(_.cpuNs.get / 1e9),
      "gc_s" -> med(_.gcMs.get / 1e3),
      "shuffle_bytes" -> med(_.shuffleBytes.get.toDouble),
      "spill_bytes" -> med(_.spillBytes.get.toDouble))
  }

  def write(path: String): Unit = {
    val lines = all.sortBy(_.start).map { s =>
      Json.write(Map("name" -> s.name, "unit" -> s.unit, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "tag" -> s.tag))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.write(Paths.get(path), lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

/** File listings of table roots, for the filesystem counters. */
object Fs {
  /** relative path -> size of every regular file under `root`. */
  def listing(root: String): Map[String, Long] = {
    val p = Paths.get(root)
    if (!Files.exists(p)) return Map.empty
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(f => f.getFileName.toString.startsWith("."))
      .map(f => p.relativize(f).toString -> Files.size(f)).toMap
    finally s.close()
  }

  def bytes(root: String): Long = listing(root).values.sum

  /** The partition directory (or snapshot directory) a data file lives in. */
  def partOf(rel: String): String = rel.split('/').dropRight(1).mkString("/")

  /** Live data files of a ParquetTable root: every file under data/, plus
    * the files of the newest snapshot. */
  def live(listing: Map[String, Long]): Map[String, Long] = {
    val snaps = listing.keys.filter(_.startsWith("snap/")).map(_.split('/')(1))
    val newest = if (snaps.isEmpty) "" else snaps.max
    listing.filter { case (k, _) =>
      (k.startsWith("data/") || k.startsWith(s"snap/$newest/")) && k.endsWith(".parquet")
    }
  }

  def logVersions(listing: Map[String, Long]): Int =
    listing.keys.count(k => k.startsWith("_graft_log/") && k.endsWith(".json"))

  def mkdirs(path: String): Path = Files.createDirectories(Paths.get(path))
}

object Json {
  def write(value: Any): String =
    org.json4s.jackson.Serialization.write(value.asInstanceOf[AnyRef])(org.json4s.DefaultFormats)

  def writeFile(path: String, value: Any): Unit =
    Files.write(Paths.get(path), write(value).getBytes("UTF-8"))
}

/** One unit of timed work: a micro-batch, a load or a query run. */
final case class Sample(kind: String, index: Int, latency: Double, rows: Long,
                       ok: Boolean, traced: Boolean, error: String = "") {
  def toMap: Map[String, Any] = Map("kind" -> kind, "index" -> index,
    "latency_s" -> latency, "rows" -> rows, "ok" -> ok, "traced" -> traced,
    "error" -> error)
}

/** Accumulates samples; thread-safe. */
final class Units {
  private val buf = mutable.ArrayBuffer[Sample]()
  def add(u: Sample): Unit = synchronized { buf += u }
  def all: Seq[Sample] = synchronized { buf.toList }
}
