package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one set-similarity join behind d03/d07 (word-set Jaccard), d10
  * (shingle containment) and the exact verify of d04/d14: find the set
  * pairs whose overlap can pass a [[SetSimilarity.Bound]], then verify
  * them exactly — the AllPairs/PPJoin family (Xiao, Wang, Lin, Yu 2008)
  * in the distributed Vernica/Carey/Li shape.
  *
  * Input is a sets frame `(group, id, n, tokens)`: `tokens` holds the
  * set's DISTINCT tokens, `n` their count, and `(group, id)` is the set's
  * identity. Output rows carry `(groupa, ida, na, groupb, idb, nb, c)` with
  * `c = |a ∩ b|` and the bound's test passed. Every filter is a lossless
  * consequence of the bound, so the output never depends on which path
  * or candidate order produced it.
  */
private[graft] object SetSimilarity {

  /** Overlap threshold p/q. Owns every integer-exact rule of the join;
    * `a` is the probing side, `b` the side it is checked against. */
  sealed abstract class Bound(val p: Int, val q: Int) {
    require(0 < p && p < q, s"bound $p/$q must lie in (0, 1)")
    /** a-side probe prefix: the ⌊(1−p/q)·n⌋+1 order-minimal tokens. A
      * pair with c ≥ (p/q)·na shares one of them, because the first
      * common token of a sits at rank ≤ na − c + 1. */
    def probe(rk: Column, n: Column): Column = (rk - 1) * q <= n * (q - p)
    /** Length filter: a pair that can pass has c ≤ nb, so nb·q ≥ na·p. */
    def length(na: Column, nb: Column): Column = nb * q >= na * p
    /** The exact test on the true overlap c. */
    def verify(c: Column, na: Column, nb: Column): Column
  }

  /** |a ∩ b| / |a ∪ b| ≥ p/q, over unordered pairs; a is the (n, id)-
    * larger side, so c ≤ nb ≤ na and the length filter holds. */
  final case class Jaccard(num: Int, den: Int) extends Bound(num, den) {
    /** (q+p)·c ≥ p·(na+nb) ⟺ c / (na+nb−c) ≥ p/q. */
    def verify(c: Column, na: Column, nb: Column): Column = c * (q + p) >= (na + nb) * p
    /** b-side mid-prefix: with nb ≤ na a passing pair has
      * c ≥ 2p/(q+p)·nb, so its first common token sits at rank
      * ≤ nb − c + 1 in b: (q+p)·(n − rk + 1) ≥ 2p·n. */
    def mid(rk: Column, n: Column): Column = (n - rk + 1) * (q + p) >= n * (2 * p)
    /** Positional filter on a candidate row matched at ranks (rka, rkb):
      * if it is the pair's first common token, c ≤ 1 + min(na−rka,
      * nb−rkb), and that bound must pass the verify test. */
    def positional(na: Column, nb: Column, rka: Column, rkb: Column): Column =
      verify(lit(1) + least(na - rka, nb - rkb), na, nb)
    /** Largest na a set of size nb can pair with: ⌊nb·q/p⌋. */
    def maxPartner(nb: Column): Column = call_function("div", nb * q, lit(p)).cast("int")
  }

  /** |a ∩ b| / |a| ≥ p/q, over ordered pairs: a is contained in b. A set
    * contains itself, so the pair rule must keep (a, a) out (d10's
    * cross-source rule does). */
  final case class Containment(num: Int, den: Int) extends Bound(num, den) {
    def verify(c: Column, na: Column, nb: Column): Column = c * q >= na * p
  }

  /** c / (na + nb − c), the reported Jaccard value (double). */
  def jaccard(c: Column, na: Column, nb: Column): Column = c / (na + nb - c)

  /** Set pairs passing `bound` whose groups satisfy `rule(groupa,
    * groupb)` (it becomes part of the candidate join condition, so an
    * equality there is an equi-join key). A Jaccard join over a
    * vocabulary of at most 64 tokens takes the bitmask path;
    * `forceBitmask` pins the path for differential tests. The vocabulary
    * probe collects at most 65 tokens, the smallest distinct ones. */
  def pairs(sets: DataFrame, bound: Bound, rule: (Column, Column) => Column,
      forceBitmask: Option[Boolean] = None): DataFrame = {
    lazy val vocab = sets.select(explode(col("tokens")).as("tok")).distinct()
      .orderBy("tok").limit(65).collect().map(_.get(0))
    bound match {
      case j: Jaccard if forceBitmask.getOrElse(vocab.length <= 64) =>
        bitmaskPairs(sets, j, rule, vocab)
      case _ => prefixPairs(sets, bound, rule)
    }
  }

  /** General vocabulary. Tokens are ordered by ascending (document
    * frequency, token); a probes with its probe prefix and meets b's
    * mid-prefix (Jaccard) or b's full set (containment). The candidate
    * rows that survive the pair rule, the length and the positional
    * filter are reduced to distinct pairs and verified exactly. (For
    * d03, a symmetric probe × probe join was ~2× more candidate work,
    * and keying on every token occurrence was quadratic: 1.12e9
    * candidate rows at sf1.0 for 1.5e7 pairs.) */
  private def prefixPairs(sets: DataFrame, bound: Bound,
      rule: (Column, Column) => Column): DataFrame = {
    val tok = sets.select(col("group"), col("id"), col("n"), explode(col("tokens")).as("tok"))
    val dfq = tok.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfq, Seq("tok")).withColumn("rk", row_number().over(
        Window.partitionBy("group", "id").orderBy(col("df"), col("tok"))))
      .select("group", "id", "n", "tok", "rk")
    val (ga, gb, ida, idb, na, nb) =
      (col("groupa"), col("groupb"), col("ida"), col("idb"), col("na"), col("nb"))
    val (probe, build, pairFilter) = bound match {
      case j: Jaccard =>
        // cut: ranked feeds both prefix frames; without it the explode,
        // the df join and the window run once per side (PERF.md round 10)
        val r = graft.graph.Superstep.cut(ranked)
        (r, r.filter(j.mid(col("rk"), col("n"))),
          larger(na, nb, ida, idb) && j.positional(na, nb, col("rka"), col("rkb")))
      case _: Containment => (ranked, tok, lit(true))
    }
    val cand = suffixed(probe.filter(bound.probe(col("rk"), col("n"))), "a")
      .join(suffixed(build, "b"),
        col("toka") === col("tokb") && rule(ga, gb) && bound.length(na, nb) && pairFilter)
      .select("groupa", "ida", "groupb", "idb").distinct()
    verified(cand, sets, bound)
  }

  /** Vocabulary of at most 64 tokens: each set folds to one BIGINT
    * bitmask (bit i = the i-th token of the sorted vocabulary, no
    * shuffle), b is replicated once per admissible partner size
    * na ∈ [nb, maxPartner(nb)] (the length filter made an equi-join
    * key), and c = popcount(ma & mb) is exactly the general path's
    * array_intersect size. */
  private def bitmaskPairs(sets: DataFrame, bound: Jaccard,
      rule: (Column, Column) => Column, vocab: Array[Any]): DataFrame = {
    require(vocab.length <= 64, s"bitmask path requires vocabulary <= 64, got ${vocab.length}")
    val dict = array(vocab.toSeq.map(lit): _*)
    val bm = graft.graph.Superstep.cut(sets.select(col("group"), col("id"), col("n"),
      aggregate(col("tokens"), lit(0L), (m, t) =>
        m.bitwiseOR(call_function("shiftleft", lit(1L), (array_position(dict, t) - 1).cast("int"))))
        .as("mask")))
    val (na, nb, c) = (col("na"), col("nb"), col("c"))
    suffixed(bm, "a")
      .join(suffixed(bm, "b").withColumn("nab", explode(sequence(nb, bound.maxPartner(nb)))),
        na === col("nab") && rule(col("groupa"), col("groupb")) &&
          larger(na, nb, col("ida"), col("idb")))
      .withColumn("c", bit_count(col("maska").bitwiseAND(col("maskb"))))
      .filter(bound.verify(c, na, nb))
  }

  /** A Jaccard pair is emitted once, with a the strictly (n, id)-larger
    * set; ids must therefore be unique among the sets `rule` can pair. */
  private def larger(na: Column, nb: Column, ida: Column, idb: Column): Column =
    nb < na || (nb === na && idb < ida)

  /** `df` with every column renamed `<name><x>`: the a and b sides of a
    * self-join. */
  private def suffixed(df: DataFrame, x: String): DataFrame =
    df.select(df.columns.toSeq.map(k => col(k).as(k + x)): _*)

  /** Exact verify of candidate pairs against per-set token arrays: one
    * array_intersect per pair, so the cost is bound by the candidates,
    * not by token occurrences. `pairs` carries `ida, idb` (and `groupa,
    * groupb` when `sets` has a `group` column); adds `na, nb, c` and
    * keeps the pairs that pass `bound`. */
  def verified(pairs: DataFrame, sets: DataFrame, bound: Bound): DataFrame = {
    val key = Seq("group", "id").filter(sets.columns.contains)
    pairs
      .join(suffixed(sets, "a"), key.map(_ + "a"))
      .join(suffixed(sets, "b"), key.map(_ + "b"))
      .withColumn("c", size(array_intersect(col("tokensa"), col("tokensb"))))
      .filter(bound.verify(col("c"), col("na"), col("nb")))
      .drop("tokensa", "tokensb")
  }
}
