package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --work <dir> --cores <n>`. Prints one line
  * `PERFBENCH_RECORD {json}` with every metric of the run.
  *
  * Phases: set-up (repeated, median reported as `setup_s`), a fixed number
  * of warm-up repetitions at full size, then whole repetitions for the given
  * seconds. Untraced runs report the end-to-end metrics; traced runs
  * measure traced repetitions only and report the per-layer metrics.
  */
object Main {

  /** Set-ups per run; the first runs cold, so the median of three is the
    * slower of the two warm ones.
    */
  val SetupReps = 3

  /** Input sizes and warm-up counts per workload (README). */
  def workload(name: String, spark: SparkSession, seed: Long, work: String): Workload = name match {
    case "kg_long_tail_vocab" =>
      new KgBatch(spark, seed, nTurns = 8000, nNames = 10000, nAbbr = 200, warmReps = 3)
    case "kg_incremental" =>
      new KgIncremental(spark, seed, work, nBatches = 2, batchTurns = 1000, nNames = 5000, nAbbr = 100)
    case "dedup_near_dup" =>
      new DedupNearDup(spark, seed, nDocs = 12000, nGrouped = 7500, warmReps = 4)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n == 0) Double.NaN else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def deleteTree(path: String): Unit = {
    val root = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(root)) {
      val walk = java.nio.file.Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally walk.close()
    }
  }

  def files(path: String): Seq[String] = {
    val root = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(root)) Nil
    else {
      val walk = java.nio.file.Files.walk(root)
      try {
        val out = Vector.newBuilder[String]
        walk.filter(p => java.nio.file.Files.isRegularFile(p)).forEach(p => out += p.toString)
        out.result()
      } finally walk.close()
    }
  }

  /** Fixed single-thread integer loop; its time shows how fast the host
    * ran at the start and the end of the run.
    */
  def hostProbe(): Double = {
    val t0 = System.nanoTime()
    var x = 1L
    var i = 0
    while (i < 50000000) { x = Gen.mix(x + i); i += 1 }
    val t = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("")
    t
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      // one task per input file: 4 files per core, so no task wave is short
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    val cores = opt("cores").toInt

    val phases = Vector.newBuilder[(String, Double)]
    def phase(name: String): Unit =
      phases += name -> java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val probeStart = hostProbe()
    val spark = session(cores, work)
    val sc = spark.sparkContext
    val listener = new Listener
    sc.addSparkListener(listener)
    phase("session_ready")
    val w = workload(name, spark, seed, s"$work/rounds")
    val log = (m: String) => System.err.println(s"[perfbench] $m")

    var last = { Listener.drain(sc); listener.snapshot() }
    val between: () => Delta = () => {
      Listener.drain(sc)
      val now = listener.snapshot()
      val d = Delta.between(last, now)
      last = now
      d
    }

    // set-up, repeated into fresh directories; the last one stays in use
    val setupTimes = (1 to SetupReps).map { i =>
      val t0 = System.nanoTime()
      w.setup(s"$work/setup-$i")
      val t = (System.nanoTime() - t0) / 1e9
      if (i > 1) deleteTree(s"$work/setup-${i - 1}")
      log(f"setup $i: $t%.3f s")
      t
    }

    phase("setup_done")
    val warm = w.warmUp()
    phase("warmup_done")
    log(s"warm-up: ${warm.map(t => f"$t%.3f").mkString(" ")}")
    between()

    val repTimes = Vector.newBuilder[Double]
    val shuffle = Vector.newBuilder[Double]
    val cache = Vector.newBuilder[Double]
    val layer = Vector.newBuilder[Map[String, Double]]
    var reps = 0
    val t0 = System.nanoTime()
    def untracedRep(): Unit = {
      val t = w.rep()
      val d = between()
      repTimes += t
      shuffle += d.total.shuffleWriteBytes / 1e6
      cache += d.blockBytes / 1e6
    }
    def tracedRep(): Unit = {
      val tracer = new Tracer(sc)
      val before = { Listener.drain(sc); listener.snapshot() }
      val counts = w.tracedRep(tracer, between)
      val d = { Listener.drain(sc); Delta.between(before, listener.snapshot()) }
      val spans = tracer.result().groupBy(_.name).map { case (k, v) =>
        k -> (v.map(_.wallS).sum, v.map(_.gcS).sum)
      }
      val perSpan = spans.toSeq.flatMap { case (k, (wall, gc)) =>
        val s = d.span(k)
        Seq(
          s"${k}_s" -> wall,
          s"$k.gc_s" -> gc,
          s"$k.tasks" -> s.tasks.toDouble,
          s"$k.shuffle_mb" -> s.shuffleWriteBytes / 1e6,
          s"$k.busy_frac" -> (if (wall > 0) s.taskRunMs / 1e3 / (wall * cores) else 0.0))
      }
      val total = spans.values.map(_._1).sum
      layer += counts ++ perSpan ++ Seq(
        "trace.total_s" -> total,
        "trace.jobs" -> d.total.jobs.toDouble,
        "trace.spill_mb" -> d.total.spillBytes / 1e6)
    }
    while (reps < w.minReps || (System.nanoTime() - t0) / 1e9 < seconds) {
      if (traced) tracedRep() else untracedRep()
      reps += 1
    }
    val measured = (System.nanoTime() - t0) / 1e9
    phase("measure_done")
    log(s"measured $reps reps in ${"%.1f".format(measured)} s: ${repTimes.result().map(t => f"$t%.3f").mkString(" ")}")

    val checks = w.check()
    checks.foreach(c => log(s"check ${c.name}: ${if (c.ok) "ok" else "FAILED"} (${c.checked} checked)" +
      c.failures.map("\n    " + _).mkString))
    phase("checks_done")
    val probeEnd = hostProbe()

    val times = repTimes.result()
    val metrics: Map[String, Double] =
      if (!traced) Map(
        "setup_s" -> median(setupTimes),
        "rows_per_s" -> w.rows / median(times),
        "shuffle_mb" -> median(shuffle.result()),
        "cache_mb" -> median(cache.result()))
      else {
        val ls = layer.result()
        val keys = ls.flatMap(_.keys).distinct
        keys.map(k => k -> median(ls.map(_.getOrElse(k, 0.0)))).toMap
      }
    val record = Map[String, Any](
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> (if (traced) 1 else 0),
      "correct" -> checks.forall(_.ok),
      "attempted" -> reps.toLong * w.opsPerRep,
      "failed" -> 0L,
      "metrics" -> metrics,
      "checks" -> checks.map(c => Map("name" -> c.name, "ok" -> c.ok, "checked" -> c.checked,
        "failures" -> c.failures)),
      "rows_per_rep" -> w.rows,
      "cores" -> cores,
      "setup_s" -> setupTimes,
      "warmup_s" -> warm,
      "rep_s" -> times,
      "host_probe_start_s" -> probeStart,
      "host_probe_end_s" -> probeEnd,
      "spark_version" -> spark.version,
      "jvm_uptime_s" -> phases.result().toMap) ++ w.details
    println("PERFBENCH_RECORD " + Json.write(record))
    spark.stop()
  }
}

/** Minimal JSON writer for the run record. Doubles keep all their digits. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
        case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) => write(k.toString) + ":" + write(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
