package perfbench

import graft.SparkEntry

/** Runs one workload in one JVM and writes the raw results (samples, setup
  * times, read set, space, committed batches, per-layer metrics) as JSON.
  * run.py generates the inputs before, and computes the reported metrics and
  * checks correctness after.
  *
  * Arguments: --workload W --input DIR --work DIR --seconds S --trace 0|1
  *            --out FILE [--spans FILE] [--order q1,q2,...] [--plant-failure]
  */
object Main {
  private val warmupBatches = 2

  def main(args: Array[String]): Unit = {
    val opt = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val workload = opt("workload")
    val input = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val plant = args.contains("--plant-failure")

    // The analytics queries run on inputs so small that task scheduling,
    // not computation, sets their time: half the cores as task slots (and
    // shuffle partitions) leaves the driver thread, the JIT and the GC
    // cores of their own, which makes their times steadier and no slower.
    val parallelism =
      if (workload == "analytics_heavy") math.max(1, Harness.cores / 2) else Harness.cores
    val t0 = System.nanoTime()
    val spark = Harness.session(work, parallelism)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark, trace)
    val units = new Units
    var out = Map[String, Any]("workload" -> workload, "cores" -> Harness.cores,
      "parallelism" -> parallelism, "session_s" -> sessionS)

    workload match {
      case "stream_hot" | "batch_scattered" =>
        val sizes = readSizes(s"$input/manifest.json")
        val setup0 = System.nanoTime()
        val ing = new Ingest(spark, input)
        val (_, seedS) = Harness.time(ing.seed(s"$work/targets"))
        Harness.quiesce(spark)
        val (wl, warmS) = Harness.time {
          if (workload == "stream_hot") {
            val w = new StreamHot(spark, work, ing, sizes, tracer, plant)
            w.warmup(warmupBatches)
            Left(w)
          } else {
            val w = new BatchScattered(spark, work, ing, sizes, tracer, plant)
            w.warmup(warmupBatches)
            Right(w)
          }
        }
        val setupWall = (System.nanoTime() - setup0) / 1e9
        val (busy, window) = Harness.time(
          wl.fold(_.run(seconds, trace, units), _.run(seconds, trace, units)))
        if (trace) tracer.counters.settle()
        val root = wl.fold(_.targetRoot, _.targetRoot)
        val lookups = (0 until 5).map(_ * 5999L)
        val readS = timedReads(spark, ing.readSet(root, lookups))
        out ++= Map(
          "seed_s" -> seedS, "warmup_s" -> warmS,
          "setup_s" -> (sessionS + setupWall),
          "window_s" -> window, "busy_s" -> busy, "read_s" -> readS,
          "space_amp" -> ing.spaceAmp(root),
          "committed" -> wl.fold(_.committedBatches, _.committedBatches),
          "exports" -> ing.export(root, s"$work/final"),
          "layers" -> (if (trace) wl.fold(_.layers(), _.layers()) else Map.empty))

      case "analytics_heavy" =>
        val order = opt("order").split(",").toSeq
        val unknown = order.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
        val a = new Analytics(spark, work, input, order, tracer, plant)
        val (captured, warmS) = Harness.time(a.warmup(parallelism))
        // after the same two untimed passes in every run, however many
        // timed passes follow
        val spaceAmp = a.spaceAmp(System.getProperty("java.io.tmpdir"))
        val window = a.run(seconds, trace, units)
        if (trace) tracer.counters.settle()
        val lookups = (0 until 5).map(_ * 599L)
        val readS = timedReads(spark, a.readSet(lookups))
        out ++= Map(
          "warmup_s" -> warmS, "setup_s" -> (sessionS + warmS),
          "window_s" -> window, "read_s" -> readS,
          "space_amp" -> spaceAmp,
          "captured" -> captured,
          "layers" -> (if (trace) a.layers() else Map.empty))

      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    out += ("units" -> units.all.map(_.toMap))
    opt.get("spans").filter(_ => trace).foreach(tracer.write)
    Json.writeFile(opt("out"), out)
    spark.stop()
  }

  /** The read set once untimed, to warm its code paths, then three timed
    * runs; a quiesce after each. */
  private def timedReads(spark: org.apache.spark.sql.SparkSession, read: => Double): Seq[Double] =
    (0 until 4).map { _ =>
      val s = read
      Harness.quiesce(spark)
      s
    }.drop(1)

  /** Events per staged batch, per table, from the generator's manifest. */
  private def readSizes(path: String): Map[String, Seq[Int]] = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmt: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))
    (js \ "sizes").extract[Map[String, Seq[Int]]]
  }
}
