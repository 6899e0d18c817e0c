package perfbench

import graft.unified.EntityStore.EntityRow

/** Statement generator for the entity-writes workload.
  *
  * The store is preloaded with `PreloadEntityBatches` entity appends and
  * `PreloadEdgeBatches` edge appends, so every pass starts at the same
  * log depth. A pass is a fixed mix of NQL statements ([[PassMix]]):
  * ENTITY CREATE/UPDATE/DELETE/CONNECT and Cypher MATCH…SET writes,
  * interleaved with ENTITY GET, NEIGHBORS, FIND NODES and SIMILAR …
  * CONNECTED TO reads, in seeded order. Keys are skewed toward the most
  * recently created. Each statement carries the result the [[WriteModel]]
  * expects.
  */
object WriteScript {
  val PreloadEntityBatches = 6
  val EntitiesPerBatch = 40
  val PreloadEdgeBatches = 2
  val EdgesPerBatch = 120

  /** Statements per pass by form. The counts are fixed so that every
    * pass, whatever the seed, does the same kinds of work. */
  val PassMix: Seq[(String, Int)] = Seq(
    "create" -> 5, "update" -> 2, "delete" -> 1, "connect" -> 3, "set" -> 1,
    "get" -> 6, "neighbors" -> 3, "find" -> 1, "similar" -> 2)
  val PassOps: Int = PassMix.map(_._2).sum
  val Dim = 8
  val SimilarLimit = 5

  private val Labels = Seq("item", "doc")
  private val EdgeTypes = Seq("link", "rel")

  /** One generated statement. `ordered` says whether row order is part
    * of the expected result (else rows compare as a multiset). */
  final case class Stmt(text: String, write: Boolean, expect: Seq[Seq[Any]], ordered: Boolean) {
    /** Op name in the run record: the statement form, e.g. entity_create. */
    def name: String = text.split(' ').toSeq match {
      case Seq("ENTITY", op, _*) => s"entity_${op.toLowerCase}"
      case Seq("MATCH", _*) => "cypher_match_set"
      case Seq("FIND", "NODES", _*) => "find_nodes"
      case Seq("SIMILAR", _*) => "similar_connected_to"
      case Seq(first, _*) => first.toLowerCase
    }
  }

  final case class Preload(entityBatches: Seq[Seq[EntityRow]],
      edgeBatches: Seq[Seq[(String, String, String)]], model: WriteModel, nextId: Int)

  def key(i: Int): String = s"e:$i"

  private def vector(r: scala.util.Random): (String, Vector[Float]) = {
    val txt = Seq.fill(Dim)(String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(r.nextGaussian())))
    (txt.mkString(", "), txt.map(_.toFloat).toVector)
  }

  private def props(r: scala.util.Random): Map[String, String] = Map(
    "label" -> Labels(r.nextInt(Labels.size)), "name" -> s"n${r.nextInt(100)}",
    "tag" -> s"t${r.nextInt(10)}")

  def preload(seed: Long): Preload = {
    val r = new scala.util.Random(seed)
    val m = new WriteModel
    val n = PreloadEntityBatches * EntitiesPerBatch
    val ents = (0 until n).grouped(EntitiesPerBatch).map(_.map { i =>
      val p = props(r); val v = vector(r)._2
      m.create(key(i), p, Some(v))
      EntityRow(key(i), p, Some(v.toArray))
    }).toSeq
    val edges = Seq.fill(PreloadEdgeBatches)(Seq.fill(EdgesPerBatch) {
      val e = (key(r.nextInt(n)), key(r.nextInt(n)), EdgeTypes(r.nextInt(EdgeTypes.size)))
      m.connect(e._1, e._2, e._3)
      e
    })
    Preload(ents, edges, m, n)
  }

  /** Statements of one pass, starting from the preloaded state, and the
    * model state they leave behind (for the read-back check). */
  def pass(seed: Long, passNo: Int, pre: Preload): (Seq[Stmt], WriteModel) = {
    val r = new scala.util.Random(seed * 1000003L + 7919L * passNo + 1)
    val m = pre.model.copy()
    var next = pre.nextId
    // recency-skewed pick: the newest keys are the most likely
    def pick(): String = key(next - 1 - math.floor(next * math.pow(r.nextDouble(), 3)).toInt)
    def pickLive(): String =
      Iterator.continually(pick()).take(16).find(k => m.live(k).isDefined)
        .getOrElse { val live = m.liveKeys; live(r.nextInt(live.size)) }
    def status(k: String, s: String) = Seq(Seq[Any](k, s))

    val forms = r.shuffle(PassMix.flatMap { case (f, n) => Seq.fill(n)(f) })
    val stmts = forms.map {
      case "create" =>
        val k = if (r.nextInt(10) < 7) { next += 1; key(next - 1) } else pick()
        val p = props(r); val (vt, v) = vector(r)
        m.create(k, p, Some(v))
        val body = p.toSeq.sorted.map { case (a, b) => s"$a: '$b'" }.mkString(", ")
        Stmt(s"ENTITY CREATE '$k' { $body } EMBEDDING [$vt]", write = true, status(k, "created"), true)
      case "update" =>
        val k = pickLive()
        val p = Map("name" -> s"n${r.nextInt(100)}", "tag" -> s"t${r.nextInt(10)}")
        m.update(k, p)
        Stmt(s"ENTITY UPDATE '$k' SET name = '${p("name")}', tag = '${p("tag")}'",
          write = true, status(k, "updated:name,tag"), true)
      case "delete" =>
        val k = pickLive()
        m.delete(k)
        Stmt(s"ENTITY DELETE '$k'", write = true, status(k, "deleted"), true)
      case "connect" =>
        val (a, b, t) = (pick(), pick(), EdgeTypes(r.nextInt(EdgeTypes.size)))
        m.connect(a, b, t)
        Stmt(s"ENTITY CONNECT '$a' -> '$b' : $t", write = true, status(s"$a->$b", s"connected:$t"), true)
      case "set" =>
        // a live key under its own label: every SET merges exactly one row
        val k = pickLive()
        val (l, v) = (WriteModel.labelOf(m.live(k).get), s"n${r.nextInt(100)}")
        val n = m.set(k, l, "name", v)
        Stmt(s"MATCH (x:$l {key: '$k'}) SET x.name = '$v'", write = true,
          Seq(Seq[Any](n, "updated")), true)
      case "get" =>
        val k = pick()
        Stmt(s"ENTITY GET '$k'", write = false, m.get(k), true)
      case "neighbors" =>
        val k = pick()
        Stmt(s"NEIGHBORS '$k'", write = false, m.neighbors(k), false)
      case "find" =>
        val l = Labels(r.nextInt(Labels.size))
        Stmt(s"FIND NODES $l RETURN key", write = false, m.findNodes(l), true)
      case "similar" =>
        val (k, e) = (pickLive(), pick())
        Stmt(s"SIMILAR '$k' CONNECTED TO '$e' LIMIT $SimilarLimit", write = false,
          m.similarConnected(k, e, SimilarLimit), true)
    }
    (stmts, m)
  }
}
