package perfbench

import scala.collection.mutable

/** What the collection should hold: the starting records with every
  * acknowledged write applied. Reads never overlap writes, so this is
  * the one state every read must show.
  */
final class Model(initial: Seq[Gen.Rec]) {
  private val recs = mutable.LinkedHashMap[String, Gen.Rec]()
  initial.foreach(r => recs(r.id) = r)

  /** Apply an acknowledged add or upsert. */
  def apply(acked: Seq[Gen.Rec]): Unit = acked.foreach(r => recs(r.id) = r)

  def live: collection.Map[String, Gen.Rec] = recs
  def userBytes: Long = recs.valuesIterator.map(_.userBytes).sum
}
