package perfbench

/** The output checks, as pure functions over collected results so the
  * self-test can feed each one a corrupted result. Each returns the
  * failures it found; empty means the output is correct.
  */
object Checks {
  /** Every question sent got exactly one answer, and nothing else was answered. */
  def oneAnswerEach(sent: Seq[String], answered: Seq[String]): Seq[String] = {
    val counts = answered.groupBy(identity).view.mapValues(_.size).toMap
    val missing = sent.filterNot(counts.contains)
    val doubled = counts.collect { case (q, n) if n > 1 => q }
    val unknown = counts.keySet -- sent
    Seq(
      if (missing.nonEmpty) Some(s"${missing.size} question(s) unanswered, e.g. ${missing.head}") else None,
      if (doubled.nonEmpty) Some(s"${doubled.size} question(s) answered twice, e.g. ${doubled.head}") else None,
      if (unknown.nonEmpty) Some(s"${unknown.size} answer(s) to unknown questions") else None,
    ).flatten
  }

  /** Two keyed results are equal: same keys, same value per key. */
  def sameResults[K, V](what: String, got: Map[K, V], want: Map[K, V]): Seq[String] = {
    val diff = (got.keySet ++ want.keySet).filter(k => got.get(k) != want.get(k))
    if (diff.isEmpty) Nil
    else {
      val k = diff.head
      def show(v: Option[V]) = v.fold("nothing")(_.toString.take(160))
      Seq(s"$what: ${diff.size} key(s) differ, e.g. $k got ${show(got.get(k))} want ${show(want.get(k))}")
    }
  }

  /** Mean share of each query's exact top-k that the served top-k found.
    * Tie-aware when `score` is given: a served item scoring at least the
    * exact k-th score counts as found.
    */
  def recall[K, I](got: Map[K, Seq[I]], exact: Map[K, Seq[I]],
      score: Option[(K, I) => Double] = None): Double = {
    if (exact.isEmpty) return 1.0
    exact.toSeq.map { case (q, want) =>
      val g = got.getOrElse(q, Nil)
      val hits = score match {
        case Some(s) if want.nonEmpty =>
          val kth = s(q, want.last)
          g.distinct.count(i => s(q, i) >= kth - 1e-6).min(want.size)
        case _ => g.distinct.count(want.toSet).min(want.size)
      }
      if (want.isEmpty) 1.0 else hits.toDouble / want.size
    }.sum / exact.size
  }

  /** None of the planted documents survived. */
  def noneSurvive(what: String, survivors: Set[Long], planted: Set[Long]): Seq[String] = {
    val alive = survivors.intersect(planted)
    if (alive.isEmpty) Nil else Seq(s"${alive.size} $what survived, e.g. doc ${alive.min}")
  }

  /** Every kept original is still there (the curation removed no more than planted). */
  def allSurvive(what: String, survivors: Set[Long], kept: Set[Long]): Seq[String] = {
    val gone = kept -- survivors
    if (gone.isEmpty) Nil else Seq(s"${gone.size} $what removed, e.g. doc ${gone.min}")
  }

  /** No engine store bytes are left under the run's tmpdir. */
  def noLeak(leftover: Seq[String]): Seq[String] =
    if (leftover.isEmpty) Nil else Seq(s"${leftover.size} store path(s) left behind: ${leftover.take(3).mkString(", ")}")
}
