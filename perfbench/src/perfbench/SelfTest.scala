package perfbench

/** Tests of the output checks: on a small instance of every workload, the
  * program's real outputs pass every check, and each corrupted copy of them
  * fails at least one. Run with `python3 perfbench/run.py --selftest`.
  */
object SelfTest {

  def small(name: String, spark: org.apache.spark.sql.SparkSession, seed: Long, work: String): Workload =
    name match {
      case "kg_long_tail_vocab" =>
        new KgBatch(spark, seed, nTurns = 4000, nNames = 2000, nAbbr = 100, warmReps = 0)
      case "kg_incremental" =>
        new KgIncremental(spark, seed, work, nBatches = 3, batchTurns = 1000, nNames = 2000, nAbbr = 100)
      case "dedup_near_dup" =>
        new DedupNearDup(spark, seed, nDocs = 3000, nGrouped = 2000, warmReps = 0)
    }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val work = opts("work")
    val seed = opts.getOrElse("seed", "1").toLong
    val spark = Main.session(opts("cores").toInt, work)
    var failures = 0
    def report(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $what")
      if (!ok) failures += 1
    }
    for (name <- Seq("kg_long_tail_vocab", "kg_incremental", "dedup_near_dup")) {
      val w = small(name, spark, seed, s"$work/$name")
      w.setup(s"$work/$name/setup")
      val o = w.outputs()
      val clean = w.checks(o)
      clean.foreach(c => report(c.ok, s"$name: ${c.name} passes on the program's output" +
        c.failures.map("\n       " + _).mkString))
      w.corruptions(o).foreach { case (label, bad) =>
        val caught = w.checks(bad).filterNot(_.ok).map(_.name)
        report(caught.nonEmpty, s"$name: $label is rejected by ${caught.mkString(", ")}")
      }
    }
    spark.stop()
    println(if (failures == 0) "selftest passed" else s"selftest: $failures failures")
    sys.exit(if (failures == 0) 0 else 1)
  }
}
