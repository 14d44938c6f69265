package perfbench

import graft.core.Turn
import graft.dicts.Dicts
import graft.ed.{Blocking, ConnectedComponents, Linking, PairScorer}
import graft.ops.Dedup
import graft.pipeline.Pipeline
import graft.streaming.StreamingPipeline
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** One workload: inputs made at set-up from the seed, a repetition that
  * calls the program's entry points, a traced repetition that calls the
  * same layers one by one inside spans, and output checks.
  */
abstract class Workload(val spark: SparkSession, val seed: Long) {
  import spark.implicits._

  /** Input rows (turns or documents) one repetition processes. */
  def rows: Long

  /** Program operations one repetition attempts. */
  def opsPerRep: Int

  /** Fewest repetitions a run measures, however long they take. */
  def minReps: Int

  /** Untimed repetitions at full size before the measured ones. A fixed
    * count per workload, read off its repetition-time curve in a fresh JVM
    * (README), so every run measures from the same point of that curve.
    */
  def warmReps: Int

  /** Runs the warm-up repetitions; returns their times. */
  def warmUp(): Seq[Double] = {
    val out = (1 to warmReps).map(_ => rep())
    afterWarmUp()
    out
  }

  /** Forgets figures the warm-up repetitions recorded. */
  protected def afterWarmUp(): Unit = ()

  /** Makes the inputs under `dir`, replacing those of an earlier set-up. */
  def setup(dir: String): Unit

  /** One untraced repetition; returns its timed seconds. */
  def rep(): Double

  /** One traced repetition: layer metrics by name. Wall and task figures
    * of each span are added by the caller from the tracer and listener.
    */
  def tracedRep(t: Tracer, between: () => Delta): Map[String, Double]

  /** The outputs the checks read: the last measured repetition's, or one
    * more untimed run's when a traced repetition came last.
    */
  type Out
  def outputs(): Out
  def checks(o: Out): Seq[Checks.Result]

  /** Corrupted copies of good outputs, each of which some check must reject. */
  def corruptions(o: Out): Seq[(String, Out)]

  final def check(): Seq[Checks.Result] = checks(outputs())

  /** Extra figures for the run record (not metrics). */
  def details: Map[String, Any] = Map.empty

  protected def partitions: Int = spark.sparkContext.defaultParallelism * 4

  protected def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** Writes turns `from until until` as Parquet and reads them back; with
    * `batchTurns` > 0 the table is partitioned by `batch` = id / batchTurns.
    */
  protected def writeTurns(vocab: Gen.Vocab, from: Long, until: Long, path: String,
      batchTurns: Long = 0): DataFrame = {
    val bv = spark.sparkContext.broadcast(vocab)
    val s = seed
    val df = spark.range(from, until, 1, partitions).as[Long]
      .mapPartitions(_.map(id => (Gen.turn(s, bv.value, id), if (batchTurns > 0) id / batchTurns else 0L)))
      .select($"_1.*", $"_2".as("batch"))
    (if (batchTurns > 0) df.write.partitionBy("batch") else df.drop("batch").write)
      .mode("overwrite").parquet(path)
    spark.read.parquet(path)
  }
}

/** Batch KG construction: `Pipeline.run` → `triples.count()` over turns read
  * from a Parquet table written at set-up.
  */
final class KgBatch(spark: SparkSession, seed: Long, nTurns: Long, nNames: Int, nAbbr: Int, val warmReps: Int)
    extends Workload(spark, seed) {
  import spark.implicits._

  private var vocab: Gen.Vocab = _
  private var dicts: Dicts = _
  private var turns: Dataset[Turn] = _
  private var last: Pipeline.Result = _

  def rows: Long = nTurns
  def opsPerRep: Int = 1
  def minReps: Int = 2

  def setup(dir: String): Unit = {
    vocab = Gen.longTailVocab(seed, nNames, nAbbr)
    dicts = KgBatch.gazetteer(vocab)
    turns = writeTurns(vocab, 0, nTurns, s"$dir/turns").as[Turn]
  }

  /** The result stays cached until the next repetition, so the checks
    * read the last measured run instead of running the program again.
    */
  def rep(): Double = {
    if (last != null) last.unpersist()
    val (r, t) = time {
      val r = Pipeline.run(spark, turns, dicts)
      r.triples.count()
      r
    }
    last = r
    t
  }

  def tracedRep(t: Tracer, between: () => Delta): Map[String, Double] = {
    if (last != null) { last.unpersist(); last = null }
    between()
    val bc = t.span("ner.broadcast")(Dicts.broadcast(spark, dicts))
    val det = t.span("ner.detect") {
      val det = Pipeline.detectFlat(turns, bc).persist(StorageLevel.MEMORY_AND_DISK)
      det.count()
      det
    }
    val detCache = between().blockBytes
    val detDF = det.toDF()
    val relations = Pipeline.relationsView(detDF)
    val mentions = Pipeline.mentionsView(detDF)
    val (samples, nSamples) = t.span("ed.samples") {
      val s = Linking.samples(mentions, relations).persist(StorageLevel.MEMORY_AND_DISK)
      (s, s.count())
    }
    val scored = spark.sparkContext.longAccumulator("perfbench.scoredPairs")
    def persisted[A](d: Dataset[A]): Dataset[A] = {
      val p = d.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      p
    }
    // the calls of the distributed route, which Pipeline.run takes above
    // Blocking.DriverSampleCutoff samples
    val edges = t.span("ed.blocking")(persisted(Blocking.edges(samples, bc, PairScorer.Threshold,
      scoredCounter = Some(scored), knownSampleCount = Some(nSamples))))
    val comps = t.span("ed.cc")(persisted(
      ConnectedComponents.run(samples.select($"sample_id".as[java.lang.Long]), edges)))
    val canon = t.span("ed.canon")(persisted(Linking.canonicalMap(samples, comps)))
    val nTriples = t.span("pipeline.triples")(Pipeline.backJoinTriples(relations.toDF(), canon).count())
    between()
    val nMentions = mentions.count()
    val nRelations = relations.count()
    val nEdges = edges.count()
    val compRows = comps.select($"id", $"component").as[(Long, Long)].collect()
    val (recall, precision) = KgBatch.pairQuality(vocab,
      samples.select($"sample_id", $"mention").as[(Long, String)].collect(), compRows)
    Seq(det, samples, edges, comps, canon).foreach(_.unpersist())
    between()
    Map(
      "ner.turns_in" -> nTurns.toDouble,
      "ner.mentions_out" -> nMentions.toDouble,
      "re.relations_out" -> nRelations.toDouble,
      "ner.cache_bytes_per_turn" -> detCache.toDouble / nTurns,
      "ed.samples_out" -> nSamples.toDouble,
      "ed.distributed_route" -> (if (nSamples > Blocking.DriverSampleCutoff) 1.0 else 0.0),
      "ed.scored_pairs" -> scored.value.toDouble,
      "ed.edges_out" -> nEdges.toDouble,
      "ed.edge_yield" -> (if (scored.value > 0) nEdges.toDouble / scored.value else 0.0),
      "ed.components_out" -> compRows.iterator.map(_._2).distinct.size.toDouble,
      "ed.pair_recall" -> recall,
      "ed.pair_precision" -> precision,
      "pipeline.triples_out" -> nTriples.toDouble)
  }

  type Out = KgBatch.Out

  def outputs(): Out = {
    val r = if (last != null) last else Pipeline.run(spark, turns, dicts)
    last = null
    try KgBatch.Out(
      r.triples.select($"subj", $"pred", $"obj", $"conv_id", $"turn_idx").as[Checks.TripleRow].collect().toSeq,
      r.mentions.select($"conv_id", $"turn_idx", $"beg", $"surface").as[(String, Int, Int, String)].collect()
        .map { case (c, i, b, s) => Checks.PlantedMention(Gen.turnId(c, i), b, s) }.toSet,
      r.samples.select($"sample_id", $"mention").as[(Long, String)].collect().toSeq,
      r.components.select($"id", $"component").as[(Long, Long)].collect().toSeq,
      r.edges.select($"src", $"dst").as[(Long, Long)].collect().toSeq)
    finally r.unpersist()
  }

  def checks(o: Out): Seq[Checks.Result] = {
    val compOf = o.comps.toMap
    Seq(
      Checks.triplesInText(o.triples, KgBatch.textOf(seed, vocab)),
      Checks.plantedDetected(KgBatch.plantedMentions(seed, vocab, nTurns), o.mentions),
      Checks.partitionMatchesEdges(o.comps, o.edges),
      Checks.caseVariantsJoined(o.samples.map { case (id, m) => m -> compOf(id) }.toMap,
        vocab.surfaceCluster.get))
  }

  def corruptions(o: Out): Seq[(String, Out)] = {
    val t = o.triples.head
    val other = o.triples.find(x => !KgBatch.textOf(seed, vocab)(t).contains(x.obj)).get.obj
    val planted = KgBatch.plantedMentions(seed, vocab, nTurns).next()
    val compOf = o.comps.toMap
    // two samples of different true names in different components
    val byName = o.samples.filter(s => vocab.surfaceCluster.contains(s._2))
    val (a, b) = byName.iterator.flatMap(x => byName.iterator.map(y => (x, y))).find { case (x, y) =>
      vocab.surfaceCluster(x._2) != vocab.surfaceCluster(y._2) && compOf(x._1) != compOf(y._1)
    }.get
    val (ca, cb) = (compOf(a._1), compOf(b._1))
    // one case variant of a name moved to a component of its own
    val caseMate = o.samples.find { case (id, m) =>
      o.samples.exists { case (id2, m2) => id2 != id && m2 != m && m2.toLowerCase == m.toLowerCase &&
        vocab.surfaceCluster.get(m2) == vocab.surfaceCluster.get(m) }
    }.get
    val lone = o.comps.map(_._2).max + 1
    Seq(
      "altered triple" -> o.copy(triples = t.copy(obj = other) +: o.triples.tail),
      "planted name not detected" -> o.copy(mentions = o.mentions - planted),
      "two distinct names merged" -> o.copy(comps = o.comps.map { case (id, c) => (id, if (c == cb) ca else c) }),
      "case variant split off" -> o.copy(
        comps = o.comps.map { case (id, c) => (id, if (id == caseMate._1) lone else c) },
        edges = o.edges.filterNot(e => e._1 == caseMate._1 || e._2 == caseMate._1)))
  }
}

object KgBatch {
  val Source = "generated_software"

  def gazetteer(v: Gen.Vocab): Dicts =
    Dicts.build(Seq(Source -> v.names.toSeq.flatMap(_.variants)), strong = Set(Source),
      typeOf = Map(Source -> "Application"))

  final case class Out(triples: Seq[Checks.TripleRow], mentions: Set[Checks.PlantedMention],
      samples: Seq[(Long, String)], comps: Seq[(Long, Long)], edges: Seq[(Long, Long)])

  def textOf(seed: Long, v: Gen.Vocab)(t: Checks.TripleRow): String =
    Gen.planted(seed, v, Gen.turnId(t.conv_id, t.turn_idx)).text(v)

  def plantedMentions(seed: Long, v: Gen.Vocab, nTurns: Long): Iterator[Checks.PlantedMention] =
    Iterator.range(0L, nTurns).flatMap { id =>
      val p = Gen.planted(seed, v, id)
      if (p.name >= 0 && Gen.Templates(p.template).trigger)
        Some(Checks.PlantedMention(id, p.offset, p.surface(v)))
      else None
    }

  /** Pair recall and precision of the components against the generator's
    * true name clusters, over the linked samples. A surface the generator
    * did not plant is its own cluster.
    */
  def pairQuality(v: Gen.Vocab, samples: Seq[(Long, String)], comps: Seq[(Long, Long)]): (Double, Double) = {
    val compOf = comps.toMap
    def c2(n: Long): Long = n * (n - 1) / 2
    val labelled = samples.map { case (id, m) =>
      (compOf.getOrElse(id, id), v.surfaceCluster.get(m).map(_.toLong).getOrElse(-1L - id))
    }
    val both = labelled.groupBy(identity).values.map(g => c2(g.size)).sum
    val pred = labelled.groupBy(_._1).values.map(g => c2(g.size)).sum
    val truth = labelled.groupBy(_._2).values.map(g => c2(g.size)).sum
    (if (truth > 0) both.toDouble / truth else 1.0, if (pred > 0) both.toDouble / pred else 1.0)
  }
}

/** Incremental KG construction: one seeded long-tail stream cut into
  * micro-batches, each fed through `StreamingPipeline.processBatch`, then
  * read back through `committedTriples`. Every round starts from an empty
  * state directory.
  */
final class KgIncremental(spark: SparkSession, seed: Long, work: String, nBatches: Int,
    batchTurns: Long, nNames: Int, nAbbr: Int) extends Workload(spark, seed) {
  import spark.implicits._

  private var vocab: Gen.Vocab = _
  private var dicts: Dicts = _
  private var turns: Dataset[Turn] = _
  private var batches: IndexedSeq[Dataset[Turn]] = _
  private var round = 0
  private var lastRound: (String, String) = _
  private val batchTimes = Vector.newBuilder[Double]

  def rows: Long = nBatches * batchTurns
  def opsPerRep: Int = nBatches + 1
  def minReps: Int = 1
  // a round's first batch is the JVM's first processBatch call; the
  // untimed round runs that code, state writes and cross-batch linking
  // included, before the measured one
  def warmReps: Int = 1

  private var reference: Seq[Checks.TripleRow] = _

  /** The reference run follows the warm-up round: it is needed for the
    * checks anyway, and puts more of the same detection and ED code
    * before the measured round.
    */
  override protected def afterWarmUp(): Unit = {
    batchTimes.clear()
    reference = batchRows()
  }

  /** One table of the whole stream, partitioned by micro-batch. */
  def setup(dir: String): Unit = {
    vocab = Gen.longTailVocab(seed, nNames, nAbbr)
    dicts = KgBatch.gazetteer(vocab)
    val all = writeTurns(vocab, 0, rows, s"$dir/turns", batchTurns)
    turns = all.drop("batch").as[Turn]
    batches = (0 until nBatches).map(b => all.where(col("batch") === b).drop("batch").as[Turn])
  }

  private def roundDir(k: Int) = s"$work/round-$k"

  /** Triples of one batch `Pipeline.run` over the same turns: the rows the
    * streamed triples must equal.
    */
  private def batchRows(): Seq[Checks.TripleRow] = {
    val r = Pipeline.run(spark, turns, dicts)
    try r.triples.select($"subj", $"pred", $"obj", $"conv_id", $"turn_idx").as[Checks.TripleRow].collect().toSeq
    finally r.unpersist()
  }

  /** Feeds every batch; returns the per-batch seconds and the state dirs. */
  private def runRound(): (Seq[Double], String, String) = {
    if (round > 0) Main.deleteTree(roundDir(round - 1))
    val dir = roundDir(round)
    round += 1
    val (state, out) = (s"$dir/state", s"$dir/out")
    val bc = Dicts.broadcast(spark, dicts)
    val times = batches.indices.map { b =>
      time(StreamingPipeline.processBatch(batches(b), bc, state, out, b.toLong))._2
    }
    StreamingPipeline.committedTriples(spark, state, out).count()
    (times, state, out)
  }

  def rep(): Double = {
    val (times, state, out) = runRound()
    lastRound = (state, out)
    batchTimes ++= times
    times.sum
  }

  override def details: Map[String, Any] = Map("batch_s" -> batchTimes.result())

  def tracedRep(t: Tracer, between: () => Delta): Map[String, Double] = {
    between()
    val seenFiles = scala.collection.mutable.HashSet.empty[String]
    if (round > 0) Main.deleteTree(roundDir(round - 1))
    val dir = roundDir(round)
    lastRound = (s"$dir/state", s"$dir/out")
    val bc = Dicts.broadcast(spark, dicts)
    val times = batches.indices.map { b =>
      val (_, wall) = time(t.span("streaming.batch")(
        StreamingPipeline.processBatch(batches(b), bc, s"$dir/state", s"$dir/out", b.toLong)))
      seenFiles ++= Main.files(dir)
      wall
    }
    round += 1
    val d = between()
    val state = s"$dir/state/state"
    val nState = graft.io.TableIO.readTable(spark, state, "samples").count()
    val stateBytes = Main.files(state).iterator.map(f => new java.io.File(f).length).sum
    val batchStats = d.span("streaming.batch")
    val perBatch = times.zipWithIndex.map { case (s, b) => s"streaming.batch_${b + 1}_s" -> s }
    (perBatch ++ Seq(
      "streaming.batch_p50_s" -> Main.median(times),
      "streaming.jobs_per_batch" -> batchStats.jobs.toDouble / nBatches,
      "streaming.state_samples" -> nState.toDouble,
      "io.written_mb" -> batchStats.outputBytes / 1e6,
      "io.write_task_s" -> batchStats.outputTaskRunMs / 1e3,
      "io.state_mb" -> stateBytes / 1e6,
      "io.files_written" -> seenFiles.size.toDouble,
      "ner.turns_in" -> rows.toDouble)).toMap
  }

  type Out = KgIncremental.Out

  /** Reads the last measured round (a fresh one if there is none). */
  def outputs(): Out = {
    val (state, out) = if (lastRound != null) lastRound else { val r = runRound(); (r._2, r._3) }
    val rows = StreamingPipeline.committedTriples(spark, state, out)
      .select($"subj", $"pred", $"obj", $"conv_id", $"turn_idx", $"subj_canon", $"obj_canon",
        $"batch_id".cast("long"))
      .as[(String, String, String, String, Int, String, String, Long)].collect().toSeq
    val st = s"$state/state"
    KgIncremental.Out(rows,
      graft.io.TableIO.marker(st, "batch_id").map(_.toLong).getOrElse(-1L),
      if (reference != null) reference else batchRows(),
      graft.io.TableIO.readTable(spark, st, "samples").select($"sample_id", $"mention")
        .as[(Long, String)].collect().toSeq,
      graft.io.TableIO.readTable(spark, st, "components").select($"id", $"component")
        .as[(Long, Long)].collect().toSeq)
  }

  def checks(o: Out): Seq[Checks.Result] = {
    val triples = o.rows.map(r => Checks.TripleRow(r._1, r._2, r._3, r._4, r._5))
    val compOf = o.comps.toMap
    Seq(
      Checks.noDuplicateRows(o.rows),
      Checks.batchesCommitted(o.rows.map(_._8).toSet, (0 until nBatches).map(_.toLong), o.watermark),
      Checks.sameRows("streaming_equals_batch_rows", triples, o.batchRows),
      Checks.triplesInText(triples, KgBatch.textOf(seed, vocab)),
      Checks.caseVariantsJoined(o.samples.map { case (id, m) => m -> compOf(id) }.toMap,
        vocab.surfaceCluster.get))
  }

  def corruptions(o: Out): Seq[(String, Out)] = {
    val r = o.rows.head
    val other = o.rows.find(x => !KgBatch.textOf(seed, vocab)(Checks.TripleRow(r._1, r._2, r._3, r._4, r._5))
      .contains(x._3)).get._3
    val compOf = o.comps.toMap
    val caseMate = o.samples.find { case (id, m) =>
      o.samples.exists { case (id2, m2) => id2 != id && m2 != m && m2.toLowerCase == m.toLowerCase &&
        vocab.surfaceCluster.get(m2) == vocab.surfaceCluster.get(m) && compOf(id2) == compOf(id) }
    }.get
    val lone = o.comps.map(_._2).max + 1
    Seq(
      "dropped triple" -> o.copy(rows = o.rows.tail),
      "duplicated triple" -> o.copy(rows = o.rows :+ o.rows.last),
      "uncommitted batch" -> o.copy(rows = o.rows.filter(_._8 != nBatches - 1), watermark = nBatches - 2L),
      "altered triple" -> o.copy(rows = r.copy(_3 = other) +: o.rows.tail),
      "case variant split off" -> o.copy(comps = o.comps.map { case (id, c) =>
        (id, if (id == caseMate._1) lone else c) }))
  }
}

object KgIncremental {
  final case class Out(rows: Seq[(String, String, String, String, Int, String, String, Long)], watermark: Long,
      batchRows: Seq[Checks.TripleRow], samples: Seq[(Long, String)], comps: Seq[(Long, Long)])
}

/** Near-duplicate search: `Dedup.minhashDupes` and `Dedup.simhashDupes`
  * over generated documents with planted groups of single-token edits.
  */
final class DedupNearDup(spark: SparkSession, seed: Long, nDocs: Int, nGrouped: Int, val warmReps: Int)
    extends Workload(spark, seed) {
  import spark.implicits._

  private var docs: DataFrame = _
  private var last: DedupNearDup.Out = _
  private val minhashTimes = Vector.newBuilder[Double]
  private val simhashTimes = Vector.newBuilder[Double]

  // Dedup.minhashDupes defaults: 3-shingles, 32 hashes in 8 bands, Jaccard 0.7
  val Bands = 8
  val Rows = 4
  val Threshold = 0.7

  def rows: Long = nDocs
  def opsPerRep: Int = 2
  def minReps: Int = 4

  override protected def afterWarmUp(): Unit = { minhashTimes.clear(); simhashTimes.clear() }

  def setup(dir: String): Unit = {
    val (s, g) = (seed, nGrouped)
    spark.range(0, nDocs, 1, partitions).as[Long]
      .mapPartitions(_.map(id => (id, Gen.docText(s, g, id.toInt))))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/docs")
    docs = spark.read.parquet(s"$dir/docs")
  }

  /** Both operators' pairs are collected, as a caller would; the checks
    * read the last repetition's.
    */
  def rep(): Double = {
    val (mh, tm) = time(Dedup.minhashDupes(docs).select($"src", $"dst").as[(Long, Long)].collect().toSeq)
    val (sh, ts) = time(Dedup.simhashDupes(docs).select($"src", $"dst").as[(Long, Long)].collect().toSeq)
    last = DedupNearDup.Out(mh, sh)
    minhashTimes += tm
    simhashTimes += ts
    tm + ts
  }

  override def details: Map[String, Any] = {
    val (m, s) = (minhashTimes.result(), simhashTimes.result())
    Map("minhash_docs_per_s" -> nDocs / Main.median(m), "simhash_docs_per_s" -> nDocs / Main.median(s))
  }

  def tracedRep(t: Tracer, between: () => Delta): Map[String, Double] = {
    between()
    val bands = t.span("ops.minhash.signatures") {
      val b = Dedup.minhashBandSignatures(docs).persist(StorageLevel.MEMORY_AND_DISK)
      b.count()
      b
    }
    val cand = t.span("ops.minhash.candidates")(graft.io.Reliably.checkpoint(Dedup.lshCandidates(bands)))
    val sets = t.span("ops.minhash.shingles") {
      val ids = cand.select(col("src").as("doc_id")).union(cand.select(col("dst").as("doc_id"))).distinct()
      graft.io.Reliably.checkpoint(Dedup.shingleSets(docs.join(ids, Seq("doc_id"), "left_semi")))
    }
    val pairs = t.span("ops.minhash.verify") {
      Dedup.jaccardOfSets(cand, sets).filter(col("jaccard") >= Threshold)
        .select($"src", $"dst").as[(Long, Long)].collect()
    }
    // simhashDupes computes its signatures inside; no public call takes
    // them precomputed, so SimHash is one span
    val (sim, simS) = time(t.span("ops.simhash")(
      Dedup.simhashDupes(docs).select($"src", $"dst").as[(Long, Long)].collect()))
    val minhashS = t.result().filter(_.name.startsWith("ops.minhash.")).map(_.wallS).sum
    between()
    val nCand = cand.count()
    bands.unpersist()
    val planted = plantedPairs
    val plantedSet = planted.keySet
    Map(
      "ops.minhash.candidate_pairs" -> nCand.toDouble,
      "ops.minhash.pairs_out" -> pairs.length.toDouble,
      "ops.minhash.yield" -> (if (nCand > 0) pairs.length.toDouble / nCand else 0.0),
      "ops.minhash.recall" -> pairs.count(plantedSet.contains).toDouble / planted.size,
      "ops.minhash.docs_per_s" -> nDocs / minhashS,
      "ops.simhash.docs_per_s" -> nDocs / simS,
      "ops.simhash.pairs_out" -> sim.length.toDouble,
      "ops.simhash.recall" -> sim.count(plantedSet.contains).toDouble / planted.size)
  }

  private val shingleMemo = scala.collection.mutable.HashMap.empty[Long, Set[String]]
  private def shingleSet(doc: Long): Set[String] =
    shingleMemo.getOrElseUpdate(doc, Checks.shingles(Gen.docText(seed, nGrouped, doc.toInt), 3))

  /** Every within-group pair with its Jaccard under the benchmark's own shingling. */
  private lazy val plantedPairs: Map[(Long, Long), Double] =
    (0 until nGrouped / Gen.GroupSize).iterator.flatMap { g =>
      val ids = (0 until Gen.GroupSize).map(j => (g * Gen.GroupSize + j).toLong)
      val sets = ids.map(shingleSet)
      for (a <- ids.indices.iterator; b <- (a + 1 until ids.size).iterator)
        yield (ids(a), ids(b)) -> Checks.jaccard(sets(a), sets(b))
    }.toMap

  type Out = DedupNearDup.Out

  def outputs(): Out = {
    if (last == null) rep()
    last
  }

  def checks(o: Out): Seq[Checks.Result] = Seq(
    Checks.pairsAboveThreshold(o.minhash, shingleSet, Threshold),
    Checks.recallFloor(o.minhash.toSet, plantedPairs, Rows, Bands)._1,
    Checks.pairsWithinGroups(o.simhash, Gen.groupOf(nGrouped, _)))

  def corruptions(o: Out): Seq[(String, Out)] = {
    val unrelated = (nGrouped.toLong, nGrouped + 1L) // two unrelated documents
    val found = o.minhash.toSet
    val missed = plantedPairs.keys.count(p => !found.contains(p))
    Seq(
      "sub-threshold minhash pair" -> o.copy(minhash = o.minhash :+ unrelated),
      "planted pairs dropped" -> o.copy(minhash = o.minhash.drop(math.max(missed, plantedPairs.size / 50))),
      "simhash pair across groups" -> o.copy(simhash = o.simhash :+ unrelated))
  }
}

object DedupNearDup {
  final case class Out(minhash: Seq[(Long, Long)], simhash: Seq[(Long, Long)])
}
