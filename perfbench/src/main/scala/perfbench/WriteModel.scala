package perfbench

import scala.math.BigDecimal.RoundingMode

/** Driver-side model of an `EntityStore` append log: the latest record
  * per entity key and per edge identity wins, a tombstone hides the key.
  * Every read the entity-writes workload issues has its expected result
  * computed here, from the statements alone.
  */
final class WriteModel private (
    private var ents: Map[String, Option[WriteModel.Ent]],
    private var edgeLog: Map[(String, String, String), Boolean]) {
  import WriteModel._

  def this() = this(Map.empty, Map.empty)

  def copy(): WriteModel = new WriteModel(ents, edgeLog)

  def live(k: String): Option[Ent] = ents.get(k).flatten
  def liveKeys: Seq[String] = ents.collect { case (k, Some(_)) => k }.toSeq.sorted
  def liveEdges: Seq[(String, String, String)] =
    edgeLog.collect { case (id, true) => id }.toSeq.sorted

  def create(k: String, props: Map[String, String], emb: Option[Vector[Float]]): Unit =
    ents += k -> Some(Ent(props, emb))

  /** Merge-update; false when the key has no live record (the engine
    * raises a typed error then). */
  def update(k: String, props: Map[String, String]): Boolean = live(k) match {
    case Some(e) => ents += k -> Some(e.copy(props = e.props ++ props)); true
    case None => false
  }

  def delete(k: String): Unit = ents += k -> None
  def connect(a: String, b: String, t: String): Unit = edgeLog += (a, b, t) -> true

  /** Cypher `MATCH (x:label {key: k}) SET x.prop = v`: rows updated. */
  def set(k: String, label: String, prop: String, v: String): Long = live(k) match {
    case Some(e) if labelOf(e) == label =>
      ents += k -> Some(e.copy(props = e.props + (prop -> v))); 1L
    case _ => 0L
  }

  /** ENTITY GET: (key, props, embedding) or nothing. */
  def get(k: String): Seq[Seq[Any]] =
    live(k).toSeq.map(e => Seq(k, e.props, e.emb.orNull))

  /** NEIGHBORS on a store key: out- and in-edges, as a sorted multiset of
    * (neighbor, type). */
  def neighbors(k: String): Seq[Seq[Any]] =
    (liveEdges.collect { case (`k`, d, t) => Seq[Any](d, t) } ++
      liveEdges.collect { case (s, `k`, t) => Seq[Any](s, t) }).sortBy(_.mkString("\u0001"))

  /** FIND NODES label RETURN key, in key order. */
  def findNodes(label: String): Seq[Seq[Any]] =
    liveKeys.filter(k => labelOf(live(k).get) == label).map(Seq(_))

  /** SIMILAR k CONNECTED TO e LIMIT n: the top 2n cosine matches of k's
    * embedding among live embedded entities, kept if adjacent to e, top n
    * by (score desc, key). */
  def similarConnected(k: String, e: String, n: Int): Seq[Seq[Any]] =
    live(k).flatMap(_.emb) match {
      case None => Nil
      case Some(q) =>
        val near = neighbors(e).map(_.head.asInstanceOf[String]).toSet
        val ranked = ents.toSeq.collect { case (o, Some(Ent(_, Some(v)))) if o != k => (o, score(v, q)) }
          .sortBy { case (o, s) => (-s, o) }
          .take(2 * n)
        ranked.filter(r => near.contains(r._1)).take(n).map { case (o, s) => Seq[Any](o, s) }
    }

  /** Full latest-wins state, for the read-back check of a fresh store. */
  def state: (Seq[Seq[Any]], Seq[Seq[Any]]) =
    (liveKeys.flatMap(get), liveEdges.map { case (a, b, t) => Seq[Any](a, b, t) })
}

object WriteModel {
  final case class Ent(props: Map[String, String], emb: Option[Vector[Float]])

  def labelOf(e: Ent): String = e.props.getOrElse("label", "entity")

  /** The engine's cosine_similarity (double accumulation in index order)
    * rounded HALF_UP to 4 places, as `round(…, 4)` does. */
  def score(a: Vector[Float], b: Vector[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val c = if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    BigDecimal(c).setScale(4, RoundingMode.HALF_UP).toDouble
  }

  /** Collected Spark values in the model's terms: arrays as vectors,
    * maps as immutable maps. */
  def normalize(v: Any): Any = v match {
    case m: scala.collection.Map[_, _] => m.toMap
    case s: scala.collection.Seq[_] => s.map(normalize).toVector
    case other => other
  }
}
