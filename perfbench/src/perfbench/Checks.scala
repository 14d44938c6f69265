package perfbench

/** Output checks. Each is a pure function over plain collections, computed
  * apart from the program (own union-find, own shingling, the generator's
  * planted truth), so the self-test can feed it a corrupted output and see
  * it fail. A check returns the failures it found; none means it passed.
  */
object Checks {

  final case class Result(name: String, checked: Long, failures: Seq[String]) {
    def ok: Boolean = failures.isEmpty
  }

  private def collectFailures(name: String, items: Iterator[Option[String]]): Result = {
    var n = 0L
    val bad = Vector.newBuilder[String]
    var nBad = 0
    items.foreach { r =>
      n += 1
      r.foreach { m => if (nBad < 5) bad += m; nBad += 1 }
    }
    val shown = bad.result()
    Result(name, n, if (nBad > shown.length) shown :+ s"... $nBad failures in all" else shown)
  }

  final case class TripleRow(subj: String, pred: String, obj: String, conv_id: String, turn_idx: Int)

  /** Every triple's subject and object surfaces occur in its turn's text. */
  def triplesInText(triples: Iterable[TripleRow], textOf: TripleRow => String): Result =
    collectFailures("triple_surfaces_in_turn", triples.iterator.map { t =>
      val text = textOf(t)
      if (t.subj != null && t.obj != null && text.contains(t.subj) && text.contains(t.obj)) None
      else Some(s"$t not in '$text'")
    })

  /** (turn id, char offset, surface) of a planted name in a trigger template. */
  final case class PlantedMention(turn: Long, beg: Int, surface: String)

  def plantedDetected(planted: Iterator[PlantedMention], detected: collection.Set[PlantedMention]): Result =
    collectFailures("planted_names_detected", planted.map { p =>
      if (detected.contains(p)) None else Some(s"missed $p")
    })

  /** Union-find over edges; vertices absent from every edge stay alone. */
  def unionFind(edges: Iterable[(Long, Long)]): collection.Map[Long, Long] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var y = x
      while (y != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a)
      val rb = find(b)
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  /** The program's component labels (id → component) partition the ids
    * exactly as the benchmark's own union-find over the returned edges:
    * the label maps are a bijection between the two sets of classes.
    */
  def partitionMatchesEdges(components: Iterable[(Long, Long)], edges: Iterable[(Long, Long)]): Result = {
    val root = unionFind(edges)
    val ownToProg = scala.collection.mutable.HashMap.empty[Long, Long]
    val progToOwn = scala.collection.mutable.HashMap.empty[Long, Long]
    val ids = scala.collection.mutable.HashSet.empty[Long]
    val fromComponents = components.iterator.map { case (id, comp) =>
      ids += id
      val own = root.getOrElse(id, id)
      val a = ownToProg.getOrElseUpdate(own, comp)
      val b = progToOwn.getOrElseUpdate(comp, own)
      if (a == comp && b == own) None
      else Some(s"id $id: component $comp, but edges put it with ${if (a != comp) a else b}")
    }
    val r = collectFailures("components_equal_union_find", fromComponents)
    val missing = edges.iterator.flatMap(e => Iterator(e._1, e._2)).filterNot(ids.contains).take(3).toSeq
    if (missing.isEmpty) r
    else r.copy(failures = r.failures ++ missing.map(m => s"edge endpoint $m has no component"))
  }

  /** Variants of one generated name that differ only in letter case share
    * one component. `surfaceComp` maps each linked surface to its component.
    */
  def caseVariantsJoined(surfaceComp: collection.Map[String, Long], cluster: String => Option[Int]): Result = {
    val groups = surfaceComp.keys.toSeq.flatMap(s => cluster(s).map(c => (c, s.toLowerCase) -> s))
      .groupBy(_._1).values.filter(_.size > 1)
    collectFailures("case_variants_one_component", groups.iterator.map { g =>
      val comps = g.map(x => surfaceComp(x._2)).distinct
      if (comps.size == 1) None else Some(s"${g.map(_._2).mkString(" / ")} split over ${comps.mkString(",")}")
    })
  }

  /** Incremental sink: no row twice, and exactly the expected batch ids. */
  def noDuplicateRows[A](rows: Iterable[A]): Result = {
    val seen = scala.collection.mutable.HashSet.empty[A]
    collectFailures("no_duplicate_triples", rows.iterator.map(r => if (seen.add(r)) None else Some(s"duplicate $r")))
  }

  def batchesCommitted(found: Set[Long], expected: Seq[Long], watermark: Long): Result =
    collectFailures("every_batch_committed", expected.iterator.map { b =>
      if (found.contains(b) && b <= watermark) None else Some(s"batch $b not committed (watermark $watermark)")
    } ++ found.diff(expected.toSet).iterator.map(b => Some(s"unexpected batch $b")))

  /** Two row multisets are equal. */
  def sameRows[A](name: String, got: Iterable[A], want: Iterable[A]): Result = {
    val g = got.groupBy(identity).view.mapValues(_.size).toMap
    val w = want.groupBy(identity).view.mapValues(_.size).toMap
    collectFailures(name, (g.keySet ++ w.keySet).iterator.map { k =>
      val (a, b) = (g.getOrElse(k, 0), w.getOrElse(k, 0))
      if (a == b) None else Some(s"$k: $a rows, expected $b")
    })
  }

  // --- near-duplicate search ------------------------------------------------

  def shingles(text: String, k: Int): Set[String] = {
    val t = text.split(" ", -1)
    if (t.length <= k) Set(t.mkString(" ")) else t.sliding(k).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val common = a.count(b.contains)
    common.toDouble / (a.size + b.size - common)
  }

  def pairsAboveThreshold(pairs: Iterable[(Long, Long)], shingleSet: Long => Set[String], threshold: Double): Result =
    collectFailures("minhash_pairs_at_threshold", pairs.iterator.map { case (a, b) =>
      val j = jaccard(shingleSet(a), shingleSet(b))
      if (j >= threshold - 1e-12) None else Some(f"($a,$b) jaccard $j%.4f < $threshold")
    })

  /** LSH detection probability of a pair at Jaccard s with b bands of r rows. */
  def bandingProb(s: Double, rows: Int, bands: Int): Double = 1 - math.pow(1 - math.pow(s, rows), bands)

  /** Recall of planted pairs meets the banding formula at each pair's
    * planted similarity: at least its expectation less four standard
    * deviations of a sum of independent Bernoulli detections.
    */
  def recallFloor(found: collection.Set[(Long, Long)], planted: Iterable[((Long, Long), Double)],
      rows: Int, bands: Int): (Result, Double, Double) = {
    val ps = planted.map { case (_, s) => bandingProb(s, rows, bands) }
    val n = ps.size.toDouble
    val expect = ps.sum / n
    val sd = math.sqrt(ps.map(p => p * (1 - p)).sum) / n
    val floor = expect - 4 * sd
    val recall = planted.count { case (p, _) => found.contains(p) } / n
    val r = Result("minhash_recall_floor", planted.size.toLong,
      if (recall >= floor) Nil else Seq(f"recall $recall%.5f below floor $floor%.5f"))
    (r, recall, floor)
  }

  def pairsWithinGroups(pairs: Iterable[(Long, Long)], groupOf: Long => Long): Result =
    collectFailures("simhash_pairs_in_one_group", pairs.iterator.map { case (a, b) =>
      if (groupOf(a) == groupOf(b)) None else Some(s"($a,$b) crosses groups ${groupOf(a)} / ${groupOf(b)}")
    })
}
