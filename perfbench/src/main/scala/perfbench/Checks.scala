package perfbench

/** Output checks for every served read against the live set: each
  * returns a complaint, or None when the answer is the right one.
  */
object Checks {
  val Tol = 1e-4

  def read(r: Wire.Req, rows: Seq[Wire.Row], m: Model): Option[String] = {
    /** The row shows its id's live document and metadata, and (for a
      * vector read) the distance to its live embedding.
      */
    def consistent(row: Wire.Row, q: Option[Array[Float]]): Boolean = m.live.get(row.id).exists { v =>
      row.doc.forall(_ == v.doc) && row.cat.forall(_ == v.cat) &&
        row.year.forall(_ == v.year) && row.flag.forall(_ == v.flag) &&
        q.forall(qv => row.dist.exists(d => math.abs(d - Stats.cosineDistance(qv, v.emb)) <= Tol))
    }
    lazy val live = m.live.values
    def firstBad(q: Option[Array[Float]]): Option[String] =
      rows.find(!consistent(_, q)).map(row => s"row ${row.id} matches no state of that id")
    r match {
      case Wire.Query(q) =>
        val ds = rows.flatMap(_.dist)
        if (rows.size != Wire.K) Some(s"${rows.size} rows, expected ${Wire.K}")
        else if (ds.size != rows.size) Some("row without a distance")
        else if (ds != ds.sorted) Some("distances not ascending")
        else firstBad(Some(q)).orElse {
          val truth = Stats.bruteTopK(q, live.map(v => v.id -> v.emb), Wire.K)
          if (Stats.matchesTopK(ds, truth.map(_._2))) None
          else Some(s"top-${Wire.K} distances ${ds.take(3)} differ from brute force ${truth.take(3)}")
        }
      case Wire.GetWhere(cat, yearMin, limit, flag) =>
        if (rows.size != limit) Some(s"${rows.size} rows, expected $limit")
        else if (rows.map(_.id).distinct.size != rows.size) Some("duplicate ids")
        else if (rows.exists(x => !x.cat.contains(cat) || !x.year.exists(_ >= yearMin) ||
            flag.exists(f => !x.flag.contains(f))))
          Some("row outside the where filter")
        else firstBad(None)
      case Wire.GetIds(ids) =>
        val byId = rows.groupBy(_.id)
        if (byId.exists(_._2.size > 1)) Some("duplicate ids")
        else if (!byId.keySet.subsetOf(ids.toSet)) Some("ids not asked for")
        else ids.find { id =>
          byId.get(id) match {
            case Some(Seq(row)) => !consistent(row, None)
            case _ => m.live.contains(id)
          }
        }.map(id => s"id $id is not its last acknowledged state")
      case Wire.Search(q, perCat, limit) =>
        val ds = rows.flatMap(_.dist)
        if (rows.size > limit || rows.isEmpty) Some(s"${rows.size} rows, limit $limit")
        else if (ds.size != rows.size) Some("row without a score")
        else if (rows.exists(!_.flag.contains(true))) Some("row outside the filter")
        else if (rows.groupBy(_.cat).exists(_._2.size > perCat)) Some(s"more than $perCat rows of a group")
        else firstBad(Some(q)).orElse {
          // the $knn leaf keeps the 50 nearest flagged records, group_by
          // keeps the best `perCat` of each cat, limit keeps the best overall
          val cand = Stats.bruteTopK(q, live.filter(_.flag).map(v => v.id -> v.emb), 50)
          val truth = cand.groupBy { case (id, _) => m.live(id).cat }.values
            .flatMap(_.sortBy(_._2).take(perCat)).toSeq.map(_._2).sorted.take(limit)
          if (Stats.matchesTopK(ds.sorted, truth)) None
          else Some(s"scores ${ds.sorted.take(3)} differ from brute force ${truth.take(3)}")
        }
      case other => Some(s"not a read: $other")
    }
  }
}
