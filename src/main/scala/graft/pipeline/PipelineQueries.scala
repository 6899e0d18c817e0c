package graft.pipeline

import graft.{QDef, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data-pipeline operators over the `documents` table: exact and
  * near deduplication (MinHash+LSH, SimHash, n-gram Jaccard), text
  * analysis (token stats, quality scoring, language-ID heuristic,
  * fingerprinting) and multimodal binary-column plumbing.
  *
  * All hashing is MD5-derived so every stage (including the LSH banding)
  * is reproducible in the DuckDB oracle — no engine-specific hash
  * functions in the data path. At scale the patterns stay shuffle-lean:
  * shingling/hashing is map-side, candidate generation is a band-bucket
  * shuffle join (not all-pairs), and only candidate pairs pay the exact
  * Jaccard verification.
  */
object PipelineQueries {
  private def docs(s: SparkSession, d: String): DataFrame = Tables(s, d, "documents")

  /** Distinct non-empty whitespace tokens per doc. */
  private def words(s: SparkSession, d: String): DataFrame =
    docs(s, d).select(col("doc_id"), col("source"),
      explode(array_distinct(split(col("text"), "\\s+"))).as("w"))
      .filter(col("w") =!= "")

  /** Distinct word-3-gram shingles per doc — memoized + lineage-cut per
    * (session, dir): the frame feeds d04 twice and d10 five times (size
    * census, doc-frequency, prefix ranking, build side, exact verify),
    * and without the cut every consumer re-runs the corpus-sized
    * explode + distinct shuffle. Same artifact-sharing policy as
    * [[sharedJaccardPairs]]; at scale this IS the materialized shingle
    * table a 100 TB dedup pipeline writes once and joins repeatedly.
    */
  private val shinglesMemo =
    graft.Memo.artifact[(SparkSession, String), DataFrame]()
  private def shingles(s: SparkSession, d: String): DataFrame =
    shinglesMemo.getOrElseUpdate((s, d), graft.graph.Superstep.cut(
      docs(s, d).select(col("doc_id"), split(col("text"), "\\s+").as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws)-3), j -> concat_ws(' ', ws[j], ws[j+1], ws[j+2]))")).as("sh"))
        .distinct()))

  // Every similarity threshold of the pipeline, each stated once.
  import SetSimilarity.{Containment, Jaccard}
  private val NearDup = Jaccard(4, 5)          // d03/d07 word sets
  private val MinhashVerify = Jaccard(3, 5)    // d04/d14 shingle sets
  private val Subsumed = Containment(9, 10)    // d10 shingle sets

  /** Same-source word-set near-dup pairs with Jaccard ≥ 0.8 (da < db) —
    * the candidate generation of d03, shared with d07's clustering:
    *  1. COLLAPSE: docs with identical word sets (canonical sorted-array
    *     signature) join every pairing decision exactly once; identical
    *     pairs are emitted directly at j = 1 without entering the join.
    *  2. JOIN: distinct sets pair through [[SetSimilarity.pairs]] under
    *     `NearDup` with the same-source rule (prefix, length and
    *     positional filters, then one exact verify per candidate).
    *  3. EXPAND: set pairs map back to doc pairs — output-bound by
    *     construction.
    * `forceBitmask` pins the join's path for the differential spec
    * (D03PathsSpec): both paths must produce identical pairs.
    */
  private[graft] def wordJaccardPairsPath(s: SparkSession, d: String,
      forceBitmask: Option[Boolean]): DataFrame =
    expandSetPairs(wordJaccardSetPairsPath(s, d, forceBitmask))

  /** The SET-space pair artifact (scored set pairs + membership),
    * materialized once per (session, dir) and shared by d03's doc-pair
    * expansion and d07's representative clustering. */
  private val setPairsMemo =
    graft.Memo.artifact[(SparkSession, String), (DataFrame, DataFrame)]()
  private def sharedSetPairs(s: SparkSession, d: String): (DataFrame, DataFrame) =
    setPairsMemo.getOrElseUpdate((s, d), wordJaccardSetPairsPath(s, d, forceBitmask = None))

  /** Doc-level expansion of distinct-set pairs: every (siga, sigb) pair
    * fans out to its member docs, plus identical-set docs pair at j = 1.
    * Output-bound by construction — the expensive similarity work all
    * happens in set space. */
  private def expandSetPairs(setPairs: (DataFrame, DataFrame)): DataFrame = {
    val (scored, memb) = setPairs
    val cross = scored
      .join(memb.select(col("source"), col("sig").as("siga"), col("doc_id").as("ia")),
        Seq("source", "siga"))
      .join(memb.select(col("source"), col("sig").as("sigb"), col("doc_id").as("ib")),
        Seq("source", "sigb"))
      .select(least(col("ia"), col("ib")).as("da"),
        greatest(col("ia"), col("ib")).as("db"), col("jaccard"))
    val ident = memb.select(col("source"), col("sig"), col("doc_id").as("da"))
      .join(memb.select(col("source"), col("sig"), col("doc_id").as("db")), Seq("source", "sig"))
      .filter(col("da") < col("db"))
      .select(col("da"), col("db"), lit(1.0).as("jaccard"))
    cross.unionByName(ident)
  }

  /** 64-bit signature collision tripwire (round 12, carried ADVICE item):
    * the d03/d10 pipelines replace wide string identities with xxhash64
    * LONGs. Collision odds are ~n²/2⁶⁵ — negligible at test SFs but not
    * PROVABLY zero at production scale, and a silent collision would
    * collapse two distinct sets into one. One count-distinct(input) vs
    * count-distinct(sig) aggregate per (session, dir, site) DETECTS any
    * collision instead of trusting the odds: if the counts diverge the
    * query fails loudly with instructions to widen the signature. Cost:
    * one linear aggregation over the already-materialized frame, paid
    * once per session+dir (the memo guard), ~2% of either pipeline.
    */
  private val sigChecked =
    graft.Memo.artifact[(SparkSession, String, String), Unit]()
  private[graft] def requireNoSigCollisions(df: DataFrame, input: Column, sig: Column,
      what: String): Unit = {
    val r = df.agg(countDistinct(input).as("ni"), countDistinct(sig).as("ns")).head()
    require(r.getLong(0) == r.getLong(1),
      s"$what: 64-bit signature collision detected (${r.getLong(0)} distinct inputs -> " +
        s"${r.getLong(1)} distinct signatures); widen this pipeline's signature to 128 bits")
  }
  private def requireNoSigCollisionsOnce(s: SparkSession, d: String, what: String,
      df: => DataFrame, input: => Column, sig: => Column): Unit =
    sigChecked.getOrElseUpdate((s, d, what), requireNoSigCollisions(df, input, sig, what))

  /** t09's cross-source shared-gram pair counts over a HASHED gram frame
    * (doc_id, source, g, w): self-join on the 8-byte key `g`, with the
    * independently seeded witness hash `w` checked at the join — a genuine
    * same-gram match agrees on `w`, a collision between two distinct grams
    * differs (except with ~2⁻⁶⁴ probability) and the `assert_true` filter
    * kills the query loudly instead of fabricating a contamination pair.
    * Pairs the filter drops (same doc, same source) cannot affect the
    * output, so the check covers every output-affecting collision even if
    * the optimizer reorders the two filters. */
  private[graft] def t09SharedGramPairs(g: DataFrame): DataFrame =
    g.select(col("doc_id").as("da"), col("source").as("src_a"), col("g"), col("w").as("wa"))
      .join(g.select(col("doc_id").as("db"), col("source").as("src_b"), col("g"), col("w").as("wb")), Seq("g"))
      .filter(assert_true(col("wa") === col("wb"), lit("t09: 64-bit gram-hash " +
        "collision detected; widen the gram signature")).isNull)
      .filter(col("da") < col("db") && col("src_a") =!= col("src_b"))
      .groupBy("da", "src_a", "db", "src_b").agg(count(lit(1)).as("n_shared"))
      .orderBy("da", "db")

  /** d09's gram-keyed aggregation pair over HASHED gram keys, with the
    * collision check folded into the aggregates themselves. `grams` is
    * (doc_id, source, g, w) where `g` is the 8-byte shuffle key standing
    * in for the gram text and `w` an INDEPENDENTLY seeded second hash of
    * the same text. Two distinct grams colliding on `g` agree on `w` only
    * with ~2⁻⁶⁴ probability, so min(w) ≠ max(w) inside any g-keyed group
    * is a collision witness; `assert_true` in a Filter (a projection
    * could be pruned away — a filter condition cannot) kills the query
    * loudly. Detection rides the exchanges the query already does — no
    * extra corpus-scale pass, unlike [[requireNoSigCollisions]]'s
    * count-distinct of the raw strings, which at sf1.0 costs more than
    * the hash-key saving itself (measured, OPTIMIZATION_r12.md).
    * Returns (pdg = per-(gram, doc) occurrence counts,
    * dupG = grams seen in ≥ 2 docs). */
  private[graft] def d09GramDocCounts(grams: DataFrame): (DataFrame, DataFrame) = {
    def ok(lo: Column, hi: Column, site: String): Column =
      assert_true(lo === hi, lit(s"d09 $site: 64-bit gram-hash collision " +
        "detected; widen the gram signature")).isNull
    // per-(gram, doc) occurrence counts; grouping already dedups docs,
    // so the gram-level doc count is a plain count, not countDistinct
    val pdg = grams.groupBy("g", "doc_id", "source")
      .agg(count(lit(1)).as("occ"), min("w").as("w0"), max("w").as("w1"))
      .filter(ok(col("w0"), col("w1"), "within-doc"))
    val dupG = pdg.groupBy("g")
      .agg(count(lit(1)).as("ndocs"), min("w0").as("x0"), max("w1").as("x1"))
      .filter(ok(col("x0"), col("x1"), "cross-doc"))
      .filter(col("ndocs") >= 2).select("g")
    (pdg.select("g", "doc_id", "source", "occ"), dupG)
  }

  /** SET-space stage of [[wordJaccardPairsPath]]: returns
    * (`scored` = (source, siga, sigb, jaccard) distinct-set pairs with
    * j ≥ 0.8, `memb` = (doc_id, source, sig) membership). d07 clusters
    * in THIS space — CC over ~|distinct sets| representative nodes —
    * and expands membership after labeling (VERDICT r11 item 4); d03
    * expands to doc pairs first because the doc-level pair report IS
    * its output. */
  private[graft] def wordJaccardSetPairsPath(s: SparkSession, d: String,
      forceBitmask: Option[Boolean]): (DataFrame, DataFrame) = {
    val sets = graft.graph.Superstep.cut(
      words(s, d).groupBy("doc_id").agg(
          first(col("source")).as("source"),
          sort_array(collect_set(col("w"))).as("wa"))
        // 8-byte internal set identity (never user-visible): a LONG sig
        // halves-to-quarters every candidate-stage shuffle row vs the
        // 32-char md5 hex it replaces (the cand exchange carries two
        // sigs across ~36M rows at sf1.0). Collision odds across ~4e4
        // distinct sets are ~(4e4)²/2⁶⁵ ≈ 1e-10; a collision would
        // collapse two sets, and the tripwire below fails the query
        // loudly if one ever happens.
        .withColumn("sig", xxhash64(concat_ws(" ", col("wa"))))
        .withColumn("n", size(col("wa"))))
    // collision tripwire: distinct word-set strings must equal distinct sigs
    requireNoSigCollisionsOnce(s, d, "d03 word-set sig", sets,
      concat_ws(" ", col("wa")), col("sig"))
    val memb = sets.select("doc_id", "source", "sig")
    // cut: reps feeds the candidate build AND the verify joins — measured
    // A/B at sf1.0 (PERF.md round 10): uncomposed recomputation put the
    // whole general-path pipeline at 59 s; reps+ranked cuts take it to
    // ~25 s. (reps cut ALONE is catastrophic — 198 s — the cut flips the
    // verify joins' broadcast decision while the expensive window still
    // recomputes; always pair it with the ranked cut.)
    val reps = graft.graph.Superstep.cut(sets.groupBy(col("source").as("group"), col("sig").as("id"))
      .agg(first(col("wa")).as("tokens"), first(col("n")).as("n")))
    // A ≤64-word vocabulary (every corpus in the repo) takes the
    // kernel's bitmask path; D03PathsSpec checks it against the prefix path.
    val scored = SetSimilarity.pairs(reps, NearDup, _ === _, forceBitmask)
      .select(col("groupa").as("source"), col("ida").as("siga"), col("idb").as("sigb"),
        SetSimilarity.jaccard(col("c"), col("na"), col("nb")).as("jaccard"))
    // cut: scored closes the candidate pipeline; memb rides the cut `sets`
    (graft.graph.Superstep.cut(scored), memb)
  }

  /** The ≥0.8 pair set materialized ONCE per (session, dir) and shared by
    * d03 (the pair report) and d07 (clustering over the same pairs) —
    * clustering is BY DEFINITION over d03's candidate set, so the two
    * gate queries legitimately consume one artifact, exactly like the
    * g25/g26 shared biconnected labeling. The cut both truncates the
    * 4-join lineage (d07's CC loop re-reads stored partitions, not the
    * plan) and makes the second consumer free; the memo's strong ref
    * keeps the blocks alive across the periodic-GC cleaner.
    */
  private val pairsMemo =
    graft.Memo.artifact[(SparkSession, String), DataFrame]()
  private def sharedJaccardPairs(s: SparkSession, d: String): DataFrame =
    pairsMemo.getOrElseUpdate((s, d),
      graft.graph.Superstep.cut(expandSetPairs(sharedSetPairs(s, d))))

  /** DuckDB CTE prelude producing the same ≥0.8 pair set as
    * [[sharedJaccardPairs]] (terminates with a `pr(da, db)` CTE; callers
    * append further CTEs/SELECT).
    */
  private val jaccardPairsSqlPrelude: String =
    """WITH w AS (
      |  SELECT doc_id, source, unnest(list_distinct(regexp_split_to_array(text, '\s+'))) AS w
      |  FROM documents),
      |w2 AS (SELECT doc_id, source, w FROM w WHERE w <> ''),
      |sz AS (SELECT doc_id, count(*) AS n FROM w2 GROUP BY doc_id),
      |inter AS (
      |  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
      |  FROM w2 a JOIN w2 b ON a.w = b.w AND a.source = b.source AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2),
      |pr AS (
      |  SELECT da, db, c / (x.n + y.n - c) AS jaccard
      |  FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
      |  WHERE c / (x.n + y.n - c) >= 0.8)""".stripMargin

  // MinHash family: h_i(v) = (a_i·v + b_i) mod P over v = first 28 bits of
  // md5(shingle). One md5 per shingle + 16 cheap linear permutations
  // (classic construction) instead of 16 md5 calls; constants are injected
  // into both the Spark plan and the oracle SQL from this single source.
  private val P = 2147483647L
  private val hashAB: Seq[(Long, Long)] =
    (0 until 16).map(i => (((2654435761L * (i + 1)) % P) | 1L, (40503L * (i + 7) * 9973L) % P))

  /** Per-doc 16-hash MinHash signature table (doc_id, mh0..mh15) —
    * memoized + cut; [[minhashBands]] and the d14 estimator audit both
    * derive from it. */
  private val sigsMemo =
    graft.Memo.artifact[(SparkSession, String), DataFrame]()
  private def minhashSigs(s: SparkSession, d: String): DataFrame =
    sigsMemo.getOrElseUpdate((s, d), {
      val withV = shingles(s, d).withColumn("v",
        expr("CAST(conv(substr(md5(cast(sh as binary)), 1, 7), 16, 10) AS BIGINT)"))
      val minAggs = hashAB.zipWithIndex.map { case ((a, b), i) =>
        min(expr(s"($a * v + $b) % $P")).as(s"mh$i")
      }
      graft.graph.Superstep.cut(
        withV.groupBy("doc_id").agg(minAggs.head, minAggs.tail: _*))
    })

  /** Banded MinHash signatures (doc_id, band, bh) — the 16-hash / 4×4
    * LSH banding of d04, memoized + cut per (session, dir) because d04
    * (pair candidates) and d13 (incremental dedup) consume the SAME
    * artifact; at 100 TB this is the signature table an ingest pipeline
    * writes once and probes per batch. */
  private val bandsMemo =
    graft.Memo.artifact[(SparkSession, String), DataFrame]()
  private def minhashBands(s: SparkSession, d: String): DataFrame =
    bandsMemo.getOrElseUpdate((s, d), {
      val bandExprs = (0 until 4).map { b =>
        val cols = (4 * b until 4 * b + 4).map(i => s"cast(mh$i as string)").mkString(", ")
        s"md5(cast(concat_ws(',', $cols) as binary)) AS bh$b"
      }
      graft.graph.Superstep.cut(minhashSigs(s, d).selectExpr("doc_id" +: bandExprs: _*)
        .selectExpr("doc_id", "stack(4, 0, bh0, 1, bh1, 2, bh2, 3, bh3) AS (band, bh)"))
    })

  /** d04's pairs before rounding, and the pair set d14 audits: LSH
    * band-bucket candidates (da < db) verified at exact shingle Jaccard
    * ≥ 0.6 against per-doc shingle sets. */
  private def minhashPairs(s: SparkSession, d: String): DataFrame = {
    val bands = minhashBands(s, d)
    val cand = bands.select(col("doc_id").as("ida"), col("band"), col("bh"))
      .join(bands.select(col("doc_id").as("idb"), col("band"), col("bh")), Seq("band", "bh"))
      .filter(col("ida") < col("idb"))
      .select("ida", "idb").distinct()
    val sets = shingles(s, d).groupBy(col("doc_id").as("id"))
      .agg(collect_list(col("sh")).as("tokens"), count(lit(1)).as("n"))
    SetSimilarity.verified(cand, sets, MinhashVerify)
      .select(col("ida").as("da"), col("idb").as("db"),
        SetSimilarity.jaccard(col("c"), col("na"), col("nb")).as("jaccard"))
  }

  /** DuckDB CTE prelude reproducing [[minhashBands]] exactly; ends with
    * CTEs `sh` (shingles) and `bands` (doc_id, band, bh). */
  private lazy val minhashBandsSqlPrelude: String = {
    val mhCols = hashAB.zipWithIndex
      .map { case ((a, b), i) => s"min(($a * v + $b) % $P) AS mh$i" }.mkString(",\n        ")
    val bandSelects = (0 until 4).map { b =>
      val cols = (4 * b until 4 * b + 4).map(i => s"CAST(mh$i AS VARCHAR)").mkString(" || ',' || ")
      s"SELECT doc_id, $b AS band, md5($cols) AS bh FROM mh"
    }.mkString("\n  UNION ALL ")
    s"""WITH ws AS (SELECT doc_id, regexp_split_to_array(text, '\\s+') AS ws FROM documents
       |           WHERE len(regexp_split_to_array(text, '\\s+')) >= 3),
       |wrd AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM ws),
       |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
       |       FROM wrd a JOIN wrd b ON a.doc_id = b.doc_id AND b.i = a.i + 1
       |                  JOIN wrd c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
       |hv AS (SELECT doc_id, sh, CAST('0x' || substr(md5(sh), 1, 7) AS BIGINT) AS v FROM sh),
       |mh AS (SELECT doc_id,
       |        $mhCols
       |       FROM hv GROUP BY doc_id),
       |bands AS (
       |  $bandSelects)""".stripMargin
  }

  /** d13 engine (parameterized for the `DEDUP AGAINST '<source>'`
    * statement): flag docs outside `corpusSource` whose MinHash band
    * hashes collide with the corpus's distinct (band, bh) set. */
  def incrementalDedup(s: SparkSession, d: String, corpusSource: String): DataFrame = {
    val bands = minhashBands(s, d)
    val src = docs(s, d).select(col("doc_id"), col("source"))
    val b2 = bands.join(src, Seq("doc_id"))
    val corpus = b2.filter(col("source") === corpusSource)
      .select("band", "bh").distinct()
    val flagged = b2.filter(col("source") =!= corpusSource)
      .join(corpus, Seq("band", "bh"), "left_semi")
      .select("doc_id").distinct()
    src.filter(col("source") =!= corpusSource)
      .join(flagged.withColumn("hit", lit(1)), Seq("doc_id"), "left")
      .groupBy("source").agg(
        count(lit(1)).as("n_in"),
        sum(when(col("hit") === 1, 1L).otherwise(0L)).as("n_flagged"),
        sum(when(col("hit").isNull, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("source")
  }

  /** Fully map-side MinHash signature: the same 16 linear-permutation
    * min-hashes as d04, built per ROW with array higher-order functions
    * (shingle → md5 → 16 mins) instead of explode + groupBy — zero
    * shuffle, so it composes with streaming `dropDuplicates` for in-flight
    * near-exact-dup suppression (EventStreams.minhashDedupStream) and
    * with any map-only ingest stage at 100 TB. Returns the input plus a
    * `mh_sig` column (empty-string signature for docs with < 3 words —
    * callers exclude or keep them deliberately). Cross-validated
    * signature-for-signature against d04's aggregate-built form in
    * MinhashSignatureSpec.
    */
  def withMinhashSignature(df: DataFrame): DataFrame = {
    val mins = hashAB.map { case (a, b) =>
      s"array_min(transform(vs, v -> ($a * v + $b) % $P))"
    }.mkString(", ")
    df.withColumn("ws", split(col("text"), "\\s+"))
      .withColumn("shs", when(size(col("ws")) >= 3, expr(
        "array_distinct(transform(sequence(0, size(ws)-3), j -> concat_ws(' ', ws[j], ws[j+1], ws[j+2])))"))
        .otherwise(expr("array()")))
      .withColumn("vs", expr(
        "transform(shs, sh -> CAST(conv(substr(md5(cast(sh as binary)), 1, 7), 16, 10) AS BIGINT))"))
      .withColumn("mh_sig",
        when(size(col("vs")) > 0, expr(s"concat_ws(',', $mins)")).otherwise(lit("")))
      .drop("ws", "shs", "vs")
  }

  /** Distributed BPE merge discovery (the t18 engine, parameterized for
    * the `BPE TRAIN ROUNDS n` statement): `rounds` rounds of (count
    * adjacent symbol pairs weighted by word frequency → merge the argmax
    * pair). Returns one row per round: (r, pair, merged, wfreq). All
    * rounds run over the distinct-word table; the corpus is read once.
    */
  def bpeMerges(s: SparkSession, d: String, rounds: Int): DataFrame =
    bpeTrain(s, d, rounds)._1

  /** One BPE training run per (session, dir, rounds), shared by the t18
    * merge report, the t22 apply census, and the `BPE TRAIN` statement —
    * the trained artifact is BY DEFINITION one object, so its consumers
    * legitimately read one memoized result (the d03/d07 pair-set policy).
    * Each round's seq state is lineage-cut inside the loop, so re-reads
    * hit stored partitions. */
  private val bpeMemo =
    graft.Memo.artifact[(SparkSession, String, Int), (DataFrame, DataFrame)]()
  def bpeTrain(s: SparkSession, d: String, rounds: Int): (DataFrame, DataFrame) =
    bpeMemo.getOrElseUpdate((s, d, rounds), bpeTrainOf(docs(s, d), rounds))

  /** [[bpeMerges]] over any frame with a `text` column (unit-testable on
    * crafted corpora — BpeMergesSpec pins the greedy semantics,
    * including the self-adjacent-pair replace-scan case). */
  def bpeMergesOf(docsDf: DataFrame, rounds: Int): DataFrame =
    bpeTrainOf(docsDf, rounds)._1

  /** Full BPE training: returns (merge table, final word-dictionary
    * segmentation) — callers read `._1` for the learned merges and `._2`
    * (w, f, seq) to APPLY the vocabulary (tokens-per-word census, encode
    * passes). */
  def bpeTrainOf(docsDf: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    val wf = docsDf
      .select(explode(expr("regexp_extract_all(lower(text), '[a-z]+', 0)")).as("w"))
      .filter(length(col("w")) >= 2)
      .groupBy("w").agg(count(lit(1)).as("f"))
    // Tokens are DOUBLE-space separated with single-space string ends:
    // the merge pattern ' p1  p2 ' then consumes only one space of each
    // separator, so consecutive occurrences ('a b a b') all merge in one
    // replace pass — canonical leftmost greedy BPE (a single-space
    // layout shares the boundary space and skips alternate occurrences;
    // BpeMergesSpec pins both the chain and self-adjacent cases).
    var seqs = wf.withColumn("seq",
      expr("concat(' ', array_join(transform(sequence(1, length(w)), i -> substring(w, i, 1)), '  '), ' ')"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (r <- 1 to rounds) {
      val top1 = seqs
        .select(col("f"), split(trim(col("seq")), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("f"), explode(expr(
          "transform(sequence(1, size(t) - 1), i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))")).as("pair"))
        .groupBy("pair").agg(sum("f").as("wfreq"))
        .orderBy(desc("wfreq"), col("pair")).limit(1)
        .withColumn("merged", expr("replace(pair, ' ', '')"))
      merges += top1.select(lit(r).as("r"), col("pair"), col("merged"), col("wfreq"))
      seqs = graft.graph.Superstep.cut(
        seqs.crossJoin(broadcast(top1.select(col("pair").as("_p"), col("merged").as("_m"))))
          .withColumn("seq", expr(
            "replace(seq, concat(' ', replace(_p, ' ', '  '), ' '), concat(' ', _m, ' '))"))
          .select("w", "f", "seq"))
    }
    (merges.reduce(_ union _).orderBy("r"), seqs)
  }

  /** Count-min-sketch heavy hitters (the t19 engine, parameterized for
    * the `HEAVY HITTERS TOP k` statement): fixed 4×1024 md5-derived grid,
    * estimate = minⱼ grid[j][hⱼ(w)]; returns the exact top-k tokens as
    * (token, exact_cnt, cms_est). Grid size is constant in the corpus.
    */
  /** CMS row-hash: md5-derived bucket for hash row `j` and token `w` —
    * shared by the batch grid (t19), the `HEAVY HITTERS` statement, and
    * the streaming grid maintenance (EventStreams.cmsGridStream), so all
    * three build the SAME 4×1024 artifact. */
  val cmsBucketExpr: String =
    "CAST(conv(substr(md5(cast(concat(cast(j AS string), ':', w) as binary)), 1, 7), 16, 10) AS BIGINT) % 1024"

  /** DuckDB CTE prelude replaying [[bpeTrainOf]] exactly: word-frequency
    * dictionary, double-space char layout, `rounds` argmax-merge rounds.
    * Ends with CTEs `m1..m{rounds}` (the merges) and `s{rounds}` (the
    * final segmentation) — shared by the t18 and t22 oracles. */
  private def bpeOracleCtes(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """WITH wf AS (SELECT w, count(*) AS f FROM (
             |    SELECT unnest(regexp_extract_all(lower(text), '[a-z]+')) AS w FROM documents) t
             |  WHERE length(w) >= 2 GROUP BY w),
             |s0 AS (SELECT w, f,
             |  ' ' || array_to_string(list_transform(generate_series(1, length(w)), i -> substr(w, i, 1)), '  ') || ' ' AS seq
             |  FROM wf)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
                |p$r AS (SELECT pair, CAST(sum(f) AS BIGINT) AS wfreq FROM (
                |  SELECT f, unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS pair
                |  FROM (SELECT f, string_split(trim(seq), '  ') AS t FROM s${r - 1}) x WHERE len(t) >= 2) y
                |  GROUP BY pair),
                |m$r AS (SELECT pair, replace(pair, ' ', '') AS merged, wfreq FROM p$r ORDER BY wfreq DESC, pair LIMIT 1),
                |s$r AS (SELECT w, f, replace(seq, ' ' || replace(m.pair, ' ', '  ') || ' ', ' ' || m.merged || ' ') AS seq
                |        FROM s${r - 1} CROSS JOIN m$r m)""".stripMargin
    }
    sb.toString
  }

  /** Fixed-window chunk census engine (t21, parameterized for the
    * `CHUNK WINDOW w STRIDE s` statement): chunk i of a doc covers
    * tokens [i·stride, i·stride+w), so only the LAST chunk can be
    * partial — closed-form map-side arithmetic, one per-source agg. */
  def chunkCensus(s: SparkSession, d: String, w: Int, stride: Int): DataFrame = {
    require(w > 0 && stride > 0 && stride <= w,
      s"chunk census needs 0 < stride <= window, got window=$w stride=$stride")
    docs(s, d)
      .withColumn("ntok", regexp_count(col("text"), lit("\\S+")).cast("long"))
      .withColumn("nch", when(col("ntok") <= w, lit(1L))
        .otherwise(floor((col("ntok") - lit(w) + lit(stride - 1)) / lit(stride)).cast("long") + 1L))
      .withColumn("last_len", least(lit(w.toLong), col("ntok") - (col("nch") - 1) * stride))
      .withColumn("chunk_toks", (col("nch") - 1) * w + col("last_len"))
      .groupBy("source").agg(
        count(lit(1)).as("n_docs"),
        sum("nch").as("n_chunks"),
        sum(when(col("last_len") < w, 1L).otherwise(0L)).as("n_partial_chunks"),
        sum("chunk_toks").as("sum_chunk_tokens"),
        round(sum("chunk_toks") / sum("ntok"), 4).as("expansion_ratio"))
      .orderBy("source")
  }

  def cmsHeavyHitters(s: SparkSession, d: String, k: Int): DataFrame = {
    val bucketExpr = cmsBucketExpr
    val toks = docs(s, d)
      .select(explode(split(col("text"), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val wc = toks.groupBy("w").agg(count(lit(1)).as("c"))
    val cms = wc.select(col("w"), col("c"), explode(expr("array(0, 1, 2, 3)")).as("j"))
      .withColumn("bucket", expr(bucketExpr))
      .groupBy("j", "bucket").agg(sum("c").as("tot"))
    wc.orderBy(desc("c"), col("w")).limit(k)
      .select(col("w"), col("c"), explode(expr("array(0, 1, 2, 3)")).as("j"))
      .withColumn("bucket", expr(bucketExpr))
      .join(broadcast(cms), Seq("j", "bucket"))
      .groupBy(col("w").as("token"), col("c").as("exact_cnt"))
      .agg(min("tot").as("cms_est"))
      .orderBy(desc("exact_cnt"), col("token"))
  }

  val defs: Seq[(String, QDef)] = Seq(

    // ---- deduplication ----
    "d01_dedup_exact_stats" -> QDef(
      (s, d) => docs(s, d).agg(
        count(lit(1)).as("n_docs"),
        countDistinct(md5(col("text").cast("binary"))).as("n_unique"),
        (count(lit(1)) - countDistinct(md5(col("text").cast("binary")))).as("n_dups")),
      """SELECT count(*) AS n_docs, count(DISTINCT md5(text)) AS n_unique,
        | count(*) - count(DISTINCT md5(text)) AS n_dups
        |FROM documents""".stripMargin),

    "d02_dedup_exact_keep_first" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("h")
        docs(s, d).withColumn("h", md5(col("text").cast("binary")))
          .withColumn("keep", min("doc_id").over(w))
          .filter(col("doc_id") === col("keep"))
          .groupBy("source").agg(count(lit(1)).as("n_kept"))
          .orderBy("source")
      },
      """SELECT source, count(*) AS n_kept FROM (
        |  SELECT source, doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |  FROM documents) t
        |WHERE doc_id = keep GROUP BY source ORDER BY source""".stripMargin),

    "d03_neardup_word_jaccard" -> QDef(
      (s, d) => sharedJaccardPairs(s, d)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db"),
      jaccardPairsSqlPrelude +
        "\nSELECT da, db, round(jaccard, 4) AS jaccard FROM pr ORDER BY da, db"),

    // Near-dup CLUSTERING: connected components over the ≥0.8 Jaccard pair
    // graph (the canonical "keep one doc per near-dup cluster" pipeline
    // step after candidate generation). Both sides run the SAME fixed 8
    // rounds of min-label propagation — the result is exactly matched
    // whether or not a pathological chain has converged, and 8 ≥ the
    // planted clusters' diameter at every SF. Output is the cluster-size
    // histogram plus removable-doc counts (what a dedup pass would drop).
    // At 100 TB the pair graph is orders of magnitude smaller than the
    // corpus (only near-dup candidates appear), so the per-round shuffle
    // is on the reduced key space.
    "d07_dedup_cluster_stats" -> QDef(
      (s, d) => {
        // REPRESENTATIVE clustering (round 12, VERDICT r11 item 4): the
        // CC runs in SET space — one node per (source, distinct word
        // set), one edge per scored set pair — and doc membership is
        // expanded AFTER labeling. Identical-set docs (d03's j = 1
        // `ident` pairs, the bulk of the doc-pair volume on a resampled
        // corpus) contract to a single node, so the loop's frontier is
        // ~|distinct sets|, not ~Σ dup-clique². Doc-space components are
        // preserved exactly: contracting a clique onto its representative
        // never splits or merges components, and a same-sig group with no
        // set pair still clusters via its shared node (it enters the node
        // set when it has ≥ 2 member docs). Output is the same cluster-
        // size histogram — component labels never reach the output.
        val (scored, memb) = sharedSetPairs(s, d)
        // (source, sig) is the node identity — pairs never cross sources,
        // so a sig shared by two sources must stay two distinct nodes.
        def nodeKey(src: Column, sig: Column) = concat_ws("|", src, sig)
        val edges = scored.select(nodeKey(col("source"), col("siga")).as("src"),
          nodeKey(col("source"), col("sigb")).as("dst"))
        val dupNodes = memb.groupBy("source", "sig")
          .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2)
          .select(nodeKey(col("source"), col("sig")).as("key"))
        val nodes = edges.select(col("src").as("key"))
          .union(edges.select(col("dst").as("key")))
          .union(dupNodes).distinct()
        // MIN-LABEL PRE-CONTRACTION (round 12, measured at sf1.0): the
        // ≥0.8 pair graph is DENSE — 4.7M set pairs over 41k sets (the
        // noise-perturbed replica groups are near-cliques), so an
        // iterative CC paying 9 passes over every pair costs ~28 s. One
        // min-over-neighbors pass collapses each near-clique onto its
        // min label; the iterative CC then runs on the CONTRACTED label
        // graph (edges that still cross two labels — boundary edges
        // only), orders of magnitude smaller. Star contraction is exact
        // for arbitrary graphs: relabeling by l1 maps every original
        // path onto a contracted path, so components correspond 1:1.
        val minNb = edges.select(col("src").as("key"), col("dst").as("nb"))
          .union(edges.select(col("dst").as("key"), col("src").as("nb")))
          .groupBy("key").agg(min("nb").as("mn"))
        val lab1 = graft.graph.Superstep.cut(
          nodes.join(minNb, Seq("key"), "left")
            .select(col("key"), least(col("key"), coalesce(col("mn"), col("key"))).as("l1")))
        val cEdges = graft.graph.Superstep.cut(edges
          .join(lab1.select(col("key").as("src"), col("l1").as("ls")), Seq("src"))
          .join(lab1.select(col("key").as("dst"), col("l1").as("ld")), Seq("dst"))
          .select(col("ls").as("src"), col("ld").as("dst"))
          .filter(col("src") =!= col("dst")).distinct())
        val cNodes = lab1.select(col("l1").as("key")).distinct()
        val cUnd = cEdges.union(cEdges.select(col("dst").as("src"), col("src").as("dst")))
        // Fixpoint with cap 8: "8 >= planted diameter" is VERIFIED by a
        // convergence probe (one extra round must change nothing), not
        // asserted in a comment — a split cluster would otherwise match
        // the identically-unrolled oracle and pass the gate undetected.
        // (Contractions only shorten paths: the contracted-graph diameter
        // is ≤ the doc-graph diameter the oracle unrolls.)
        val cc1 = graft.graph.Algorithms.connectedComponents(cUnd, cNodes,
          graft.graph.Superstep.Fixpoint(8))
        val cc = lab1
          .join(cc1.withColumnRenamed("key", "l1"), Seq("l1"))
          .select(col("key"), col("component"))
        val clusters = memb
          .select(nodeKey(col("source"), col("sig")).as("key"), col("doc_id"))
          .join(cc, Seq("key"))
          .groupBy("component").agg(count(lit(1)).as("cluster_size"))
        clusters.groupBy("cluster_size")
          .agg(count(lit(1)).as("n_clusters"),
            sum(col("cluster_size") - 1).as("n_removable"))
          .orderBy("cluster_size")
      }, {
        // MATERIALIZED: each cc{i} reads cc{i-1} twice, and an inlined
        // CTE chain would make DuckDB plan 2⁸ copies of the first round.
        val sb = new StringBuilder
        sb ++= jaccardPairsSqlPrelude
        sb ++= """,
                 |und AS MATERIALIZED (SELECT da AS src, db AS dst FROM pr UNION ALL SELECT db, da FROM pr),
                 |cc0 AS (SELECT DISTINCT src AS key, src AS component FROM und)""".stripMargin
        for (i <- 1 to 8) {
          sb ++= s""",
                    |cc$i AS MATERIALIZED (SELECT key, min(component) AS component FROM (
                    |  SELECT key, component FROM cc${i - 1}
                    |  UNION ALL
                    |  SELECT e.dst AS key, c.component FROM und e JOIN cc${i - 1} c ON c.key = e.src)
                    |GROUP BY key)""".stripMargin
        }
        sb ++= """
                 |, clusters AS (SELECT component, count(*) AS cluster_size FROM cc8 GROUP BY component)
                 |SELECT cluster_size, count(*) AS n_clusters,
                 |  CAST(sum(cluster_size - 1) AS BIGINT) AS n_removable
                 |FROM clusters GROUP BY cluster_size ORDER BY cluster_size""".stripMargin
        sb.toString
      }),

    // MinHash + LSH banding: 16 linear-permutation min-hashes over one md5
    // per shingle, 4 bands × 4 rows, band-bucket join → candidate pairs →
    // exact-Jaccard verification. Map-side until the band shuffle; no
    // all-pairs stage anywhere, so it scales to web-corpus row counts.
    "d04_neardup_minhash_lsh" -> QDef(
      (s, d) => minhashPairs(s, d)
        .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db"),
      minhashBandsSqlPrelude + """,
        |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (SELECT c.da, c.db, count(*) AS c FROM cand c
        |          JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND x.sh = y.sh
        |          GROUP BY c.da, c.db)
        |SELECT da, db, round(c / (x.n + y.n - c), 4) AS jaccard
        |FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
        |WHERE c / (x.n + y.n - c) >= 0.6 ORDER BY da, db""".stripMargin),

    // MinHash ESTIMATOR AUDIT — the verification op a pipeline ships
    // with its sketch: for every banded candidate pair at exact shingle
    // Jaccard >= 0.6 (d04's output set), the 16-hash signature-agreement
    // estimate sits beside the exact value. Both columns are
    // deterministic md5-derived numbers, so the gate hashes REAL
    // estimator error, not an approx_ok proxy — and a broken hash
    // family (est wildly off exact) fails the round. Reuses the
    // memoized signature/band/shingle artifacts; the only new work is
    // one 16-column comparison per surviving pair.
    "d14_minhash_estimator_audit" -> QDef(
      (s, d) => {
        val exact = minhashPairs(s, d)
        val sigs = minhashSigs(s, d)
        val matchExpr = (0 until 16)
          .map(i => s"IF(a_mh$i = b_mh$i, 1, 0)").mkString(" + ")
        val aSig = sigs.select(col("doc_id").as("da") +:
          (0 until 16).map(i => col(s"mh$i").as(s"a_mh$i")): _*)
        val bSig = sigs.select(col("doc_id").as("db") +:
          (0 until 16).map(i => col(s"mh$i").as(s"b_mh$i")): _*)
        exact.join(aSig, Seq("da")).join(bSig, Seq("db"))
          .withColumn("est", expr(s"CAST($matchExpr AS DOUBLE) / 16"))
          .select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"),
            round(col("est"), 4).as("est"),
            round(abs(col("est") - col("jaccard")), 4).as("abs_err"))
          .orderBy("da", "db")
      },
      minhashBandsSqlPrelude + {
        val matchExpr = (0 until 16)
          .map(i => s"CASE WHEN x.mh$i = y.mh$i THEN 1 ELSE 0 END").mkString(" + ")
        s""",
          |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
          |         FROM bands a JOIN bands b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id),
          |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
          |inter AS (SELECT c.da, c.db, count(*) AS c FROM cand c
          |          JOIN sh p ON p.doc_id = c.da JOIN sh r ON r.doc_id = c.db AND p.sh = r.sh
          |          GROUP BY c.da, c.db),
          |ex AS (SELECT da, db, c / (x.n + y.n - c) AS jaccard
          |       FROM inter JOIN sz x ON da = x.doc_id JOIN sz y ON db = y.doc_id
          |       WHERE c / (x.n + y.n - c) >= 0.6)
          |SELECT e.da, e.db, round(e.jaccard, 4) AS jaccard,
          |  round(CAST($matchExpr AS DOUBLE) / 16, 4) AS est,
          |  round(abs(CAST($matchExpr AS DOUBLE) / 16 - e.jaccard), 4) AS abs_err
          |FROM ex e JOIN mh x ON x.doc_id = e.da JOIN mh y ON y.doc_id = e.db
          |ORDER BY e.da, e.db""".stripMargin
      }),

    // Incremental dedup — THE production near-dup pattern at 100 TB:
    // dedup an incoming batch AGAINST the existing corpus (here src0
    // plays the corpus, every other source is incoming). A new doc is
    // flagged iff any of its 4 MinHash band hashes collides with a
    // corpus band — so the corpus side reduces to its distinct
    // (band, bh) set (a fraction of corpus cardinality, written once
    // and reused across ingest batches), and the probe is a band-keyed
    // semi-join: no pairwise work, no corpus rescan per batch. Shares
    // the memoized banded-signature artifact with d04.
    "d13_incremental_dedup" -> QDef(
      (s, d) => incrementalDedup(s, d, "src0"),
      minhashBandsSqlPrelude + """,
        |corpus AS (SELECT DISTINCT band, bh FROM bands JOIN documents USING (doc_id)
        |           WHERE source = 'src0'),
        |flag AS (SELECT DISTINCT b.doc_id FROM bands b
        |         JOIN documents dd ON dd.doc_id = b.doc_id AND dd.source <> 'src0'
        |         JOIN corpus c ON b.band = c.band AND b.bh = c.bh)
        |SELECT d.source, count(*) AS n_in,
        |  CAST(sum(CASE WHEN f.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(sum(CASE WHEN f.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d LEFT JOIN flag f ON f.doc_id = d.doc_id
        |WHERE d.source <> 'src0'
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // SimHash: 48-bit signature — one hex parse of md5(word) yields all 48
    // bit votes, aggregated as 48 pivoted sum columns (no 48× row
    // explosion); near-dup = same-source pairs with Hamming ≤ 3.
    // Candidate generation is BANDED, never all-pairs: the 48 bits split
    // into 4 bands of 12; Hamming <= 3 means at most 3 bits differ, so by
    // pigeonhole at least one band is bit-identical — an equi-join on
    // (source, band, band_value) is lossless for the <= 3 radius and
    // partitions by band value at any scale (same shape as d04's LSH).
    "d05_neardup_simhash" -> QDef(
      (s, d) => {
        val w = words(s, d)
        val withV = w.withColumn("v",
          expr("CAST(conv(substr(md5(cast(w as binary)), 1, 12), 16, 10) AS BIGINT)"))
        val sumCols = (0 until 48).map(b =>
          sum(expr(s"CASE WHEN (shiftright(v, $b) & 1) = 1 THEN 1 ELSE -1 END")).as(s"s$b"))
        val sums = withV.groupBy("doc_id", "source").agg(sumCols.head, sumCols.tail: _*)
        val sigExpr = (0 until 48)
          .map(b => s"(CASE WHEN s$b > 0 THEN shiftleft(CAST(1 AS BIGINT), $b) ELSE CAST(0 AS BIGINT) END)")
          .mkString(" + ")
        val sig = sums.select(col("doc_id"), col("source"), expr(sigExpr).as("simhash"))
        val bands = sig.selectExpr("doc_id", "source", "simhash",
          "stack(4, 0, shiftright(simhash, 0) & 4095, 1, shiftright(simhash, 12) & 4095, " +
            "2, shiftright(simhash, 24) & 4095, 3, shiftright(simhash, 36) & 4095) AS (band, bv)")
        val cand = bands.select(col("doc_id").as("da"), col("source"), col("band"), col("bv"),
            col("simhash").as("ha"))
          .join(bands.select(col("doc_id").as("db"), col("source"), col("band"), col("bv"),
            col("simhash").as("hb")), Seq("source", "band", "bv"))
          .filter(col("da") < col("db"))
          .select("da", "db", "ha", "hb").distinct()
        cand.withColumn("hamming", expr("cast(bit_count(ha ^ hb) as int)"))
          .filter(col("hamming") <= 3)
          .select(col("da"), col("db"), col("hamming")).orderBy("da", "db")
      }, {
        val sumCols = (0 until 48)
          .map(b => s"sum(CASE WHEN (v >> $b) & 1 = 1 THEN 1 ELSE -1 END) AS s$b")
          .mkString(",\n        ")
        val sigExpr = (0 until 48)
          .map(b => s"(CASE WHEN s$b > 0 THEN (1::BIGINT << $b) ELSE 0::BIGINT END)")
          .mkString(" + ")
        s"""WITH w AS (
           |  SELECT doc_id, source, unnest(list_distinct(regexp_split_to_array(text, '\\s+'))) AS w
           |  FROM documents),
           |w2 AS (SELECT doc_id, source, w FROM w WHERE w <> ''),
           |hv AS (SELECT doc_id, source, CAST('0x' || substr(md5(w), 1, 12) AS BIGINT) AS v FROM w2),
           |sums AS (SELECT doc_id, source,
           |        $sumCols
           |        FROM hv GROUP BY 1, 2),
           |sig AS (SELECT doc_id, source, CAST($sigExpr AS BIGINT) AS simhash FROM sums),
           |bands AS (
           |  SELECT doc_id, source, simhash, 0 AS band, (simhash >> 0) & 4095 AS bv FROM sig
           |  UNION ALL SELECT doc_id, source, simhash, 1, (simhash >> 12) & 4095 FROM sig
           |  UNION ALL SELECT doc_id, source, simhash, 2, (simhash >> 24) & 4095 FROM sig
           |  UNION ALL SELECT doc_id, source, simhash, 3, (simhash >> 36) & 4095 FROM sig),
           |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db,
           |    a.simhash AS ha, b.simhash AS hb
           |  FROM bands a JOIN bands b
           |  ON a.source = b.source AND a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id)
           |SELECT da, db, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
           |FROM cand WHERE bit_count(xor(ha, hb)) <= 3
           |ORDER BY da, db""".stripMargin
      }),

    // ---- text analysis ----
    "t01_token_stats" -> QDef(
      (s, d) => docs(s, d)
        .withColumn("n_tokens", regexp_count(col("text"), lit("\\S+")))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens").cast("long")).as("total_tokens"),
          round(avg("n_tokens"), 4).as("avg_tokens"))
        .orderBy("source"),
      """SELECT source, count(*) AS n_docs,
        | CAST(sum(len(regexp_extract_all(text, '\S+'))) AS BIGINT) AS total_tokens,
        | round(avg(len(regexp_extract_all(text, '\S+'))), 4) AS avg_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    "t02_quality_score" -> QDef(
      (s, d) => docs(s, d)
        .withColumn("n_tokens", regexp_count(col("text"), lit("\\S+")))
        .withColumn("n_stop", regexp_count(col("text"), lit("\\b(the|a|and|of|to|in|is|it)\\b")))
        .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
        .withColumn("alpha_ratio", regexp_count(col("text"), lit("[a-z]")) / col("n_chars"))
        .withColumn("quality",
          round(least(col("n_tokens") / 100.0, lit(1.0)) * (lit(0.5) + col("stop_ratio")), 4))
        .select(col("doc_id"), col("n_tokens"), round(col("stop_ratio"), 4).as("stop_ratio"),
          round(col("alpha_ratio"), 4).as("alpha_ratio"), col("quality"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\S+')) AS INT) AS n_tokens,
        | round(len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) * 1.0
        |   / len(regexp_extract_all(text, '\S+')), 4) AS stop_ratio,
        | round(len(regexp_extract_all(text, '[a-z]')) * 1.0 / n_chars, 4) AS alpha_ratio,
        | round(least(len(regexp_extract_all(text, '\S+')) / 100.0, 1.0)
        |   * (0.5 + len(regexp_extract_all(text, '\b(the|a|and|of|to|in|is|it)\b')) * 1.0
        |        / len(regexp_extract_all(text, '\S+'))), 4) AS quality
        |FROM documents ORDER BY doc_id""".stripMargin),

    // BPE-ish subword counting: alternation of letter-runs, digit-runs and
    // single punctuation marks (disjoint classes, so Java leftmost-first
    // and RE2 leftmost-longest agree). Complements the whitespace counts
    // in t01.
    "t05_subword_token_stats" -> QDef(
      (s, d) => docs(s, d)
        .withColumn("n_words", regexp_count(col("text"), lit("\\S+")))
        .withColumn("n_subwords", regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]")))
        .groupBy("source")
        .agg(sum(col("n_subwords").cast("long")).as("total_subwords"),
          round(avg(col("n_subwords") / col("n_words")), 6).as("subwords_per_word"))
        .orderBy("source"),
      """SELECT source,
        | CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_subwords,
        | round(avg(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]')) * 1.0
        |   / len(regexp_extract_all(text, '\S+'))), 6) AS subwords_per_word
        |FROM documents GROUP BY source ORDER BY source""".stripMargin),

    // n-gram-frequency language-ID heuristic (deterministic scoring; the
    // synthetic corpus shares one vocabulary, so this measures the operator,
    // not linguistic truth). Output = labeled-vs-predicted confusion counts.
    "t03_langid_confusion" -> QDef(
      (s, d) => docs(s, d)
        .withColumn("s_en", regexp_count(col("text"), lit("\\b(the|a|of|and|to|in)\\b")))
        .withColumn("s_de", regexp_count(col("text"), lit("\\b(der|die|das|und|von|mit)\\b")))
        .withColumn("s_fr", regexp_count(col("text"), lit("\\b(le|la|et|les|des|un)\\b")))
        .withColumn("s_es", regexp_count(col("text"), lit("\\b(el|los|las|y|una|por)\\b")))
        .withColumn("pred", expr(
          """CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
            |     WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
            |     WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
            |     WHEN s_es > 0 THEN 'es'
            |     ELSE 'und' END""".stripMargin))
        .groupBy(col("lang"), col("pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "pred"),
      """WITH scored AS (
        |  SELECT lang,
        |    len(regexp_extract_all(text, '\b(the|a|of|and|to|in)\b')) AS s_en,
        |    len(regexp_extract_all(text, '\b(der|die|das|und|von|mit)\b')) AS s_de,
        |    len(regexp_extract_all(text, '\b(le|la|et|les|des|un)\b')) AS s_fr,
        |    len(regexp_extract_all(text, '\b(el|los|las|y|una|por)\b')) AS s_es
        |  FROM documents),
        |pred AS (
        |  SELECT lang,
        |    CASE WHEN s_en >= greatest(s_de, s_fr, s_es) AND s_en > 0 THEN 'en'
        |         WHEN s_de >= greatest(s_fr, s_es) AND s_de > 0 THEN 'de'
        |         WHEN s_fr >= s_es AND s_fr > 0 THEN 'fr'
        |         WHEN s_es > 0 THEN 'es'
        |         ELSE 'und' END AS pred
        |  FROM scored)
        |SELECT lang, pred, count(*) AS n FROM pred GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin),

    // document fingerprint = MinHash(1) over word-3-gram shingles
    // (md5-keyed), the standard near-dup clustering key.
    "t04_fingerprint" -> QDef(
      (s, d) => shingles(s, d)
        .groupBy("doc_id")
        .agg(min(md5(col("sh").cast("binary"))).as("fingerprint"))
        .orderBy("doc_id"),
      """WITH ws AS (SELECT doc_id, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |           WHERE len(regexp_split_to_array(text, '\s+')) >= 3),
        |wrd AS (SELECT doc_id, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM ws),
        |sh AS (SELECT DISTINCT a.doc_id, a.w || ' ' || b.w || ' ' || c.w AS sh
        |       FROM wrd a JOIN wrd b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |                  JOIN wrd c ON a.doc_id = c.doc_id AND c.i = a.i + 2)
        |SELECT doc_id, min(md5(sh)) AS fingerprint FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // mapPartitions batch-decode pipeline (Multimodal.decodeAll): the
    // typed per-partition path a real media decoder would use; the stub's
    // deterministic byte arithmetic keeps it oracle-checkable.
    // The decoded feature vector is emitted as a ';'-joined signature
    // string (features stay Array[Double] in the library API — the gate
    // needs scalar cells because the driver's compare sorts/hashes columns
    // and array cells aren't hashable there).
    "m02_multimodal_decode" -> QDef(
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, docs(s, d))
        Multimodal.decodeAll(media, parallelism = 8).toDF()
          .withColumn("features_sig",
            expr("array_join(transform(features, x -> CAST(CAST(x AS BIGINT) AS STRING)), ';')"))
          .drop("features")
          .orderBy("doc_id")
      }, {
        val headSum = (1 to 16)
          .map(i => s"(CASE WHEN length(text) >= $i THEN ord(substr(text, $i, 1)) ELSE 0 END)")
          .mkString(" + ")
        val features = (1 to 8)
          .map(j => s"CAST((hs * $j + (CASE WHEN length(text) >= ${j + 1} THEN ord(substr(text, ${j + 1}, 1)) ELSE 0 END)) % 97 AS BIGINT)")
          .mkString(", ")
        s"""WITH h AS (SELECT doc_id, text, $headSum AS hs FROM documents)
           |SELECT doc_id,
           |  CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
           |  CAST(64 + ord(substr(text, 1, 1)) % 64 AS INT) AS width,
           |  CAST(64 + ord(substr(text, 2, 1)) % 64 AS INT) AS height,
           |  CAST(1 + hs % 7 AS INT) AS n_frames,
           |  array_to_string([$features], ';') AS features_sig
           |FROM h ORDER BY doc_id""".stripMargin
      }),

    // ---- streaming-equivalent windowed aggregation: the same
    // EventStreams.tumblingCounts plan the streaming path uses, run over
    // the bounded events table (oracle via epoch-floor arithmetic —
    // Spark's window() is epoch-aligned).
    "s01_stream_tumbling_window" -> QDef(
      (s, d) => graft.streaming.EventStreams.tumblingCounts(Tables(s, d, "events"))
        .orderBy("w_start", "event_type"),
      """SELECT CAST(to_timestamp(CAST(floor(epoch(ts) / 21600) * 21600 AS BIGINT)) AS TIMESTAMP) AS w_start,
        | event_type, count(*) AS n, round(sum(value), 4) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),

    // Sliding 6h/3h windows: every event lands in exactly two windows
    // (oracle: union of the two epoch-floor shifts — Spark's window()
    // starts are epoch-aligned multiples of the slide).
    "s02_stream_sliding_window" -> QDef(
      (s, d) => graft.streaming.EventStreams.slidingCounts(Tables(s, d, "events"))
        .orderBy("w_start", "event_type"),
      """WITH ev AS (SELECT epoch(ts) AS t, event_type, value FROM events),
        |w AS (
        |  SELECT CAST(floor(t / 10800) * 10800 AS BIGINT) AS ws, event_type, value FROM ev
        |  UNION ALL
        |  SELECT CAST(floor(t / 10800) * 10800 - 10800 AS BIGINT), event_type, value FROM ev)
        |SELECT CAST(to_timestamp(ws) AS TIMESTAMP) AS w_start, event_type,
        |  count(*) AS n, round(sum(value), 4) AS total_value
        |FROM w GROUP BY 1, 2 ORDER BY w_start, event_type""".stripMargin),

    // Streaming dedup, batch form: first event per (user, type) — the
    // same keyed state dropDuplicates maintains on a stream (the
    // streaming path is EventStreams.dedupStream, driven in
    // EventStreamsSpec; its watermark bounds state at any scale).
    "s03_stream_dedup" -> QDef(
      (s, d) => graft.streaming.EventStreams.dedupFirstPerKey(Tables(s, d, "events"))
        .orderBy("user_id", "event_type"),
      """SELECT user_id, event_type, event_id FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin),

    // Stream-stream interval join, batch form: purchases × same-user
    // clicks in the trailing hour, counted per purchase. The SAME
    // join plan runs as Spark's watermark-bounded symmetric stream-stream
    // join on readStream inputs (EventStreams.purchaseClickJoinStream).
    "s04_stream_interval_join" -> QDef(
      (s, d) => {
        val ev = Tables(s, d, "events")
        graft.streaming.EventStreams.purchaseClickJoin(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "click"))
          .groupBy(col("p_id").as("event_id")).agg(count(lit(1)).as("n_clicks"))
          .orderBy("event_id")
      },
      """SELECT p.event_id, count(*) AS n_clicks
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin),

    // Native session_window (gap-based), batch form of the streaming
    // session state (EventStreams.sessionWindowStream). Spark's session
    // semantics: a session's end is last-event + gap, and an event
    // exactly at the end starts a NEW session — the oracle's gap-and-
    // islands reconstruction uses >= on exact microsecond arithmetic to
    // match. The value total is an order-independent quantized-long sum.
    "s05_stream_session_window" -> QDef(
      (s, d) => graft.streaming.EventStreams.sessionWindowCounts(Tables(s, d, "events"))
        .orderBy("user_id", "sess_start"),
      """WITH e AS (
        |  SELECT user_id, ts, value,
        |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
        |           OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
        |              >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM events),
        |s AS (SELECT user_id, ts, value,
        |        sum(new_s) OVER (PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        |      FROM e)
        |SELECT user_id, CAST(min(ts) AS TIMESTAMP) AS sess_start, count(*) AS n_events,
        |  CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS total_value
        |FROM s GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin),

    // Stream-static enrichment join, batch form: events enriched with the
    // broadcast customer→nation dimension, aggregated per (nation, type).
    // The SAME plan runs on readStream input as Spark's stream-static
    // join (EventStreams.nationEnrichedCounts; driven over MemoryStream
    // in EventStreamsSpec) — at scale the event side never shuffles for
    // the join, only for the final small-key aggregate.
    "s06_stream_static_enrich" -> QDef(
      (s, d) => graft.streaming.EventStreams.nationEnrichedCounts(
          Tables(s, d, "events"), Tables(s, d, "customer"), Tables(s, d, "nation"))
        .orderBy("n_name", "event_type"),
      """SELECT n_name, event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 10000, 0) AS BIGINT)) AS DOUBLE) / 10000 AS total_value
        |FROM events e JOIN customer c ON e.user_id = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |GROUP BY n_name, event_type ORDER BY n_name, event_type""".stripMargin),

    // Stream-stream LEFT OUTER interval join, batch form: every purchase
    // keeps a row, with its trailing-hour same-user click count (0 when
    // none — the null-row path the inner join s04 never exercises). The
    // streaming twin (EventStreams.purchaseClickLeftStream) emits those
    // null rows only once the watermark proves no match can still
    // arrive — MemoryStream-driven in EventStreamsSpec.
    "s08_stream_left_interval_join" -> QDef(
      (s, d) => {
        val ev = Tables(s, d, "events")
        graft.streaming.EventStreams.purchaseClickLeft(
            ev.filter(col("event_type") === "purchase"),
            ev.filter(col("event_type") === "click"))
          .groupBy(col("p_id").as("event_id"))
          .agg(sum(when(col("c_id").isNotNull, 1L).otherwise(0L)).as("n_clicks"))
          .orderBy("event_id")
      },
      """SELECT p.event_id,
        |  CAST(coalesce(sum(CASE WHEN c.event_id IS NOT NULL THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_clicks
        |FROM events p LEFT JOIN events c
        |  ON c.user_id = p.user_id AND c.event_type = 'click'
        | AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
        |WHERE p.event_type = 'purchase'
        |GROUP BY p.event_id ORDER BY p.event_id""".stripMargin),

    // CDC latest-state per key, batch form: the upsert view an ingestion
    // pipeline materializes (one row per user = most recent event, ties
    // by event_id). The streaming twin (EventStreams.latestStateStream)
    // holds O(1) state per key in mapGroupsWithState and emits refreshed
    // state per trigger — MemoryStream-driven in EventStreamsSpec. The
    // raw value column passes through unaggregated, so no rounding is
    // needed for hash parity.
    "s07_stream_cdc_latest" -> QDef(
      (s, d) => graft.streaming.EventStreams.latestStatePerKey(Tables(s, d, "events"))
        .orderBy("user_id"),
      """SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type, value FROM (
        |  SELECT user_id, ts, event_id, event_type, value,
        |         row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) t WHERE rn = 1 ORDER BY user_id""".stripMargin),

    // Deterministic stratified sampling for training-data mixing: keep
    // 50% of English documents and 10% of every other language, decided
    // by an md5-derived hash of the doc id — reproducible on any engine,
    // fully map-side (the only shuffle is the audit aggregation), and
    // restratifiable at 100 TB without coordination.
    "d06_stratified_sample" -> QDef(
      (s, d) => {
        val pct = expr("CAST(conv(substr(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 100")
        val rate = when(col("lang") === "en", 50L).otherwise(10L)
        docs(s, d).withColumn("keep", pct < rate)
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_sampled"))
          .orderBy("lang")
      },
      """SELECT lang, count(*) AS n_total,
        |  CAST(sum(CASE WHEN CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 100
        |                     < (CASE WHEN lang = 'en' THEN 50 ELSE 10 END) THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin),

    // ---- multimodal plumbing: opaque binary payload + typed metadata.
    // Decode is a deterministic stub (no media libs in-container); the
    // Spark-side schema/partitioning/batch shape is real.
    // Fulltext inverted index (graft.text.InvertedIndex): materialize the
    // (token, doc_id) pair index — the token-partitionable form that
    // scales — then run a conjunctive AND search through it. The oracle
    // performs the same tokenize→distinct→count-match pipeline in SQL.
    // TF-IDF keyword extraction (top-3 tokens per document). The score is
    // the raw-ratio variant tf · (N/df) rather than the log form: the
    // whole expression is integer-derived IEEE arithmetic, so Spark and
    // the oracle rank by bit-identical doubles (ln() differs in the last
    // ulp across libms). All stages are map-side or key-partitioned
    // aggregations — at corpus scale df is a broadcast-sized dictionary.
    "t07_tfidf_keywords" -> QDef(
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), explode(split(lower(col("text")), "[^a-z0-9]+")).as("token"))
          .filter(col("token") =!= "")
        val tf = toks.groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
        val dfq = toks.select("doc_id", "token").distinct()
          .groupBy("token").agg(count(lit(1)).as("df"))
        val nd = docs(s, d).agg(countDistinct(col("doc_id")).as("nd"))
        val scored = tf.join(dfq, "token").crossJoin(broadcast(nd))
          .withColumn("score",
            col("tf").cast("double") * (col("nd").cast("double") / col("df").cast("double")))
        val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("token"))
        scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
          .select(col("doc_id"), col("token"), round(col("score"), 4).as("score"))
          .orderBy(col("doc_id"), desc("score"), col("token"))
      },
      """WITH raw AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
        |            FROM documents),
        |tok AS (SELECT doc_id, token FROM raw WHERE token <> ''),
        |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok GROUP BY 1, 2),
        |dfq AS (SELECT token, count(*) AS df FROM (SELECT DISTINCT doc_id, token FROM tok) GROUP BY 1),
        |nd AS (SELECT count(DISTINCT doc_id) AS nd FROM documents),
        |scored AS (SELECT t.doc_id, t.token,
        |    CAST(t.tf AS DOUBLE) * (CAST(nd.nd AS DOUBLE) / CAST(f.df AS DOUBLE)) AS score
        |  FROM tf t JOIN dfq f USING (token) CROSS JOIN nd)
        |SELECT doc_id, token, round(score, 4) AS score FROM (
        |  SELECT doc_id, token, score,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn
        |  FROM scored) x
        |WHERE rn <= 3 ORDER BY doc_id, score DESC, token""".stripMargin),

    "t06_inverted_index" -> QDef(
      (s, d) => {
        val pairs = graft.text.InvertedIndex.tokenPairs(docs(s, d), "doc_id", "text")
        graft.text.InvertedIndex.searchAll(pairs, Seq("vector", "stream", "window", "hash"))
          .orderBy("doc_id")
      },
      """WITH raw AS (SELECT doc_id, unnest(regexp_split_to_array(lower(text), '[^a-z0-9]+')) AS token
        |            FROM documents),
        |tok AS (SELECT DISTINCT doc_id, token FROM raw WHERE token <> '')
        |SELECT doc_id FROM tok
        |WHERE token IN ('vector', 'stream', 'window', 'hash')
        |GROUP BY doc_id HAVING count(*) = 4 ORDER BY doc_id""".stripMargin),

    // Gopher/RefinedWeb-style repetition signals (Rae et al. 2021 §A1.1,
    // public heuristics): per-doc duplicate-word fraction and
    // top-2-gram mass, aggregated to per-source filter pass rates. The
    // per-doc ratios are integer-derived single IEEE divisions (bit-equal
    // across engines), the per-source outputs are counts and max() — both
    // order-independent, so no float-sum nondeterminism anywhere. At
    // corpus scale everything before the source-level groupBy is map-side
    // (one explode + two hash aggs keyed by doc).
    "t08_repetition_signals" -> QDef(
      (s, d) => {
        val ws = docs(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("a"))
          .filter(size(col("a")) >= 2)
        val per = ws.select(col("doc_id"), col("source"),
            size(col("a")).as("nw"), size(array_distinct(col("a"))).as("ndw"),
            explode(expr("transform(sequence(0, size(a)-2), j -> concat_ws(' ', a[j], a[j+1]))")).as("g"))
          .groupBy("doc_id", "source", "nw", "ndw", "g").agg(count(lit(1)).as("c"))
          .groupBy("doc_id", "source", "nw", "ndw")
          .agg(sum("c").as("ng"), max("c").as("mx"))
          .withColumn("top2", col("mx") / col("ng"))
          .withColumn("dupw", lit(1.0) - col("ndw") / col("nw"))
        per.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("top2") >= 0.05, 1L).otherwise(0L)).as("n_repetitive"),
            sum(when(col("dupw") >= 0.6, 1L).otherwise(0L)).as("n_dup_heavy"),
            round(max("top2"), 6).as("max_top2gram_frac"),
            round(max("dupw"), 6).as("max_dup_word_frac"))
          .orderBy("source")
      },
      """WITH ws AS (SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS a
        |            FROM documents WHERE len(regexp_split_to_array(text, '\s+')) >= 2),
        |grams AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(a)-1),
        |                 i -> a[i] || ' ' || a[i+1])) AS g FROM ws),
        |gc AS (SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2),
        |per AS (SELECT doc_id, sum(c) AS ng, max(c) AS mx FROM gc GROUP BY 1),
        |wper AS (SELECT doc_id, source, len(a) AS nw, len(list_distinct(a)) AS ndw FROM ws),
        |sig AS (SELECT p.doc_id, w.source, mx / ng AS top2, 1.0 - ndw / nw AS dupw
        |        FROM per p JOIN wper w USING (doc_id))
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN top2 >= 0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive,
        |  CAST(sum(CASE WHEN dupw >= 0.6 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_heavy,
        |  round(max(top2), 6) AS max_top2gram_frac,
        |  round(max(dupw), 6) AS max_dup_word_frac
        |FROM sig GROUP BY source ORDER BY source""".stripMargin),

    // Eval-set decontamination sweep (the 13-gram-overlap check of GPT-3
    // appendix C / Dodge et al. C4 audit, at 5-gram granularity for this
    // corpus): find cross-source document pairs sharing verbatim 5-grams.
    // The join is keyed on the n-gram itself — shingle-partitioned like
    // d03/d04, never all-pairs — and in a real pipeline the eval side is
    // benchmark-sized, making this a broadcast join against the corpus.
    "t09_contamination_ngrams" -> QDef(
      (s, d) => {
        // The gram text never reaches the output — the distinct, the
        // self-join key and the pair counts only need gram IDENTITY — so
        // the three gram-keyed exchanges ship an 8-byte xxhash64 LONG
        // instead of the ~30-byte 5-gram string (the d09/d10 move;
        // isolated sf1.0 A/B in OPTIMIZATION_r12.md). A hash collision
        // would fabricate a cross-doc match, so an independently seeded
        // second hash rides along as a WITNESS: a genuine same-gram join
        // match agrees on it, a collision differs and `assert_true` in
        // the post-join filter kills the query loudly (a filter cannot
        // be pruned away like an unused projection).
        val g = docs(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("a"))
          .filter(size(col("a")) >= 5)
          .select(col("doc_id"), col("source"), explode(expr(
            "transform(sequence(0, size(a)-5), j -> concat_ws(' ', a[j], a[j+1], a[j+2], a[j+3], a[j+4]))")).as("gs"))
          .select(col("doc_id"), col("source"),
            xxhash64(col("gs")).as("g"), xxhash64(lit("t09w"), col("gs")).as("w"))
          .distinct() // (g, w) is 1:1 absent collisions, so this equals the old per-(doc, gram-text) distinct
        t09SharedGramPairs(g)
      },
      """WITH ws AS (SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS a
        |            FROM documents WHERE len(regexp_split_to_array(text, '\s+')) >= 5),
        |g AS (SELECT DISTINCT doc_id, source,
        |        unnest(list_transform(generate_series(1, len(a)-4),
        |          i -> a[i]||' '||a[i+1]||' '||a[i+2]||' '||a[i+3]||' '||a[i+4])) AS g
        |      FROM ws)
        |SELECT x.doc_id AS da, x.source AS src_a, y.doc_id AS db, y.source AS src_b,
        |       count(*) AS n_shared
        |FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id AND x.source <> y.source
        |GROUP BY 1, 2, 3, 4 ORDER BY da, db""".stripMargin),

    // Per-source vocabulary statistics (Heaps-law style corpus audit):
    // vocabulary size, token mass, hapax legomena, type/token ratio. One
    // (source, word) hash agg then a source rollup — the per-source word
    // dictionary is the broadcast-sized artifact a 100 TB tokenizer audit
    // would keep; everything else stays map-side until the tiny final agg.
    "t10_vocab_stats" -> QDef(
      (s, d) => {
        val toks = docs(s, d)
          .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        val wc = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
        wc.groupBy("source").agg(
            sum("c").as("n_tokens"),
            count(lit(1)).as("vocab"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
            round(count(lit(1)) / sum("c"), 6).as("type_token_ratio"))
          .orderBy("source")
      },
      """WITH raw AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
        |tok AS (SELECT source, w FROM raw WHERE w <> ''),
        |wc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens, count(*) AS vocab,
        |  CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
        |  round(CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE), 6) AS type_token_ratio
        |FROM wc GROUP BY source ORDER BY source""".stripMargin),

    // Unigram language-model scoring (the perplexity-proxy quality filter
    // of CCNet/RedPajama pipelines, kept exactly cross-engine): doc score
    // = mean corpus frequency of its tokens = (Σ count(wᵢ)) / (total · n).
    // The inner sum is over INTEGER corpus counts — no float-sum order
    // dependence — and the one division happens per doc, so Spark and the
    // oracle produce bit-identical doubles. The corpus unigram table is
    // the broadcast-sized dictionary at any corpus scale.
    "t11_unigram_lm_score" -> QDef(
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), col("source"), explode(split(col("text"), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        val cf = toks.groupBy("w").agg(count(lit(1)).as("cf"))
        val tot = toks.agg(count(lit(1)).as("tot"))
        val per = toks.join(cf, "w")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n"), sum("cf").as("sumcf"))
          .crossJoin(broadcast(tot))
          .withColumn("score", col("sumcf") / (col("tot").cast("double") * col("n")))
        per.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("score") < 0.032, 1L).otherwise(0L)).as("n_low_quality"),
            round(min("score"), 6).as("min_score"),
            round(max("score"), 6).as("max_score"))
          .orderBy("source")
      },
      """WITH raw AS (SELECT doc_id, source, unnest(regexp_split_to_array(text, '\s+')) AS w
        |            FROM documents),
        |tok AS (SELECT doc_id, source, w FROM raw WHERE w <> ''),
        |cf AS (SELECT w, count(*) AS cf FROM tok GROUP BY w),
        |tot AS (SELECT count(*) AS tot FROM tok),
        |per AS (
        |  SELECT doc_id, source,
        |    CAST(sum(cf) AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS score
        |  FROM tok JOIN cf USING (w) CROSS JOIN tot
        |  GROUP BY doc_id, source, tot)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score < 0.032 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
        |  round(min(score), 6) AS min_score, round(max(score), 6) AS max_score
        |FROM per GROUP BY source ORDER BY source""".stripMargin),

    // Context-window sequence packing (pretraining batch prep): documents
    // are concatenated per language in doc_id order and chunked into
    // 512-token windows; report chunk counts and boundary-crossing docs.
    // Integer window cumsum only — exact on both engines. At 100 TB the
    // language partition IS the shard: packing is a per-shard window scan
    // (one sort-merge pass), never a global sequential dependency.
    "t12_sequence_packing" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("lang").orderBy("doc_id")
        val per = docs(s, d)
          .withColumn("ntok", regexp_count(col("text"), lit("\\S+")).cast("long"))
          .withColumn("cum", sum("ntok").over(w))
          .withColumn("first_chunk", floor((col("cum") - col("ntok")) / 512))
          .withColumn("last_chunk", floor((col("cum") - 1) / 512))
        per.groupBy("lang").agg(
            count(lit(1)).as("n_docs"),
            sum("ntok").as("total_tokens"),
            (floor((sum("ntok") - 1) / 512) + 1).as("n_chunks"),
            // ntok > 0 gate: a zero-token doc spans nothing even when its
            // running cumsum lands exactly on a 512 boundary
            sum(when(col("ntok") > 0 && col("first_chunk") =!= col("last_chunk"), 1L)
              .otherwise(0L)).as("n_crossing"))
          .orderBy("lang")
      },
      """WITH per AS (
        |  SELECT lang, doc_id,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok,
        |    CAST(sum(len(regexp_extract_all(text, '\S+')))
        |         OVER (PARTITION BY lang ORDER BY doc_id) AS BIGINT) AS cum
        |  FROM documents)
        |SELECT lang, count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens,
        |  CAST(floor((CAST(sum(ntok) AS DOUBLE) - 1) / 512) AS BIGINT) + 1 AS n_chunks,
        |  CAST(sum(CASE WHEN ntok > 0 AND floor((CAST(cum AS DOUBLE) - ntok) / 512)
        |                  <> floor((CAST(cum AS DOUBLE) - 1) / 512) THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing
        |FROM per GROUP BY lang ORDER BY lang""".stripMargin),

    // C4/Dolma-style blocklist scrub: one regex pass per document counts
    // the blocklist hits, redacts them in place, and flags documents over
    // a hit-ratio threshold. Fully map-side — the blocklist compiles into
    // the scan (a broadcast constant at 100 TB); the only shuffle is the
    // gate's ORDER BY. The threshold test is integer arithmetic
    // (n_hits*20 >= n_tokens ⟺ ratio ≥ 5%), so no float drift, and the
    // redacted text is verified by md5 on both engines.
    "t13_blocklist_redaction" -> QDef(
      (s, d) => {
        val pat = "\\b(customer|order|value)\\b"
        docs(s, d)
          .withColumn("n_hits", regexp_count(col("text"), lit(pat)))
          .withColumn("n_tokens", regexp_count(col("text"), lit("\\S+")))
          .withColumn("hit_ratio", round(col("n_hits") / col("n_tokens"), 6))
          .withColumn("redacted_md5",
            md5(regexp_replace(col("text"), pat, "[REDACTED]").cast("binary")))
          .withColumn("blocked", col("n_hits") * 20 >= col("n_tokens"))
          .select("doc_id", "n_hits", "hit_ratio", "redacted_md5", "blocked")
          .orderBy("doc_id")
      },
      """SELECT doc_id,
        | CAST(len(regexp_extract_all(text, '\b(customer|order|value)\b')) AS INT) AS n_hits,
        | round(len(regexp_extract_all(text, '\b(customer|order|value)\b')) * 1.0
        |   / len(regexp_extract_all(text, '\S+')), 6) AS hit_ratio,
        | md5(regexp_replace(text, '\b(customer|order|value)\b', '[REDACTED]', 'g')) AS redacted_md5,
        | len(regexp_extract_all(text, '\b(customer|order|value)\b')) * 20
        |   >= len(regexp_extract_all(text, '\S+')) AS blocked
        |FROM documents ORDER BY doc_id""".stripMargin),

    // Domain-mix rebalancing — the "data mixing" stage of a training
    // pipeline: a 60%-of-corpus token budget is split equally across
    // sources, and each source is downsampled to its share (a source
    // below its share keeps everything — the min(1, rate) branch).
    // Keep/drop is an md5-derived hash rule like d06's, but with the
    // per-source rate computed FROM the data: the per-source census is
    // broadcast-sized at any scale (domains, not rows), and the keep
    // decision is map-side integer arithmetic
    // (hash‱ · n_src < n_tgt · 10⁴ ⟺ rate = n_tgt/n_src), deterministic
    // and coordination-free on any engine.
    "d08_domain_mix_rebalance" -> QDef(
      (s, d) => {
        val counts = docs(s, d).groupBy("source").agg(count(lit(1)).as("n_src"))
        val tgt = counts.agg(expr("(sum(n_src) * 6 div 10) div count(1)").as("n_tgt"))
        val pct = expr("CAST(conv(substr(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 10000")
        docs(s, d)
          .join(broadcast(counts), "source")
          .crossJoin(broadcast(tgt))
          .withColumn("keep", pct * col("n_src") < col("n_tgt") * 10000L)
          .groupBy("source")
          .agg(count(lit(1)).as("n_total"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("source")
      },
      """WITH c AS (SELECT source, count(*) AS n_src FROM documents GROUP BY source),
        |m AS (SELECT (sum(n_src) * 6 // 10) // count(*) AS n_tgt FROM c)
        |SELECT d.source, count(*) AS n_total,
        |  CAST(sum(CASE WHEN (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000)
        |                     * c.n_src < m.n_tgt * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN c ON d.source = c.source, m
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // Temperature-scaled language mixing (the multilingual sampling rule
    // of mT5/UniMax-style pipelines): sampling mass ∝ share^(1/T) with
    // T = 2, i.e. ∝ √share — upweights low-resource languages relative
    // to proportional sampling without flattening to uniform (d08 is the
    // T→∞ equal-share limit). Cross-engine exactness: √ of the 1e12-
    // scaled share is ONE correctly-rounded IEEE op quantized to BIGINT,
    // the normalizer is an integer sum, and the per-doc keep rule
    // `pct·denom·n_lang < qs·budget·10⁴` is pure integer arithmetic on
    // the d06/d08 md5 keep hash — deterministic, map-side, and
    // restratifiable at any scale (at 10¹²-doc corpora drop the scale
    // factor to 1e6 to keep the products inside int64).
    "d12_temperature_mix" -> QDef(
      (s, d) => {
        val counts = docs(s, d).groupBy("lang").agg(count(lit(1)).as("n_lang"))
        val tot = counts.agg(sum("n_lang").as("n_tot"),
          expr("sum(n_lang) * 6 div 10").as("budget"))
        val q = counts.crossJoin(broadcast(tot))
          .withColumn("qs",
            expr("CAST(round(sqrt((CAST(n_lang AS DOUBLE) / n_tot) * 1e12)) AS BIGINT)"))
        val dn = q.agg(sum("qs").as("denom"))
        val scored = q.crossJoin(broadcast(dn))
          .withColumn("n_target", expr("qs * budget div denom"))
          .select("lang", "n_lang", "qs", "n_target", "denom", "budget")
        val pct = expr(
          "CAST(conv(substr(md5(cast(cast(doc_id AS STRING) AS BINARY)), 1, 4), 16, 10) AS BIGINT) % 10000")
        docs(s, d).join(broadcast(scored), "lang")
          .withColumn("keep", pct * col("denom") * col("n_lang") <
            col("qs") * col("budget") * lit(10000L))
          .groupBy("lang")
          .agg(count(lit(1)).as("n_total"),
            max("n_target").as("n_target"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"))
          .orderBy("lang")
      },
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_tot,
        |             CAST(sum(n_lang) * 6 // 10 AS BIGINT) AS budget FROM c),
        |q AS (SELECT lang, n_lang,
        |        CAST(round(sqrt((CAST(n_lang AS DOUBLE) / n_tot) * 1e12)) AS BIGINT) AS qs
        |      FROM c, t),
        |dn AS (SELECT CAST(sum(qs) AS BIGINT) AS denom FROM q)
        |SELECT d.lang, count(*) AS n_total,
        |  max(q.qs * t.budget // dn.denom) AS n_target,
        |  CAST(sum(CASE WHEN (CAST('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 4) AS BIGINT) % 10000)
        |                     * dn.denom * q.n_lang < q.qs * t.budget * 10000 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        |FROM documents d JOIN q USING (lang), t, dn
        |GROUP BY d.lang ORDER BY d.lang""".stripMargin),

    // Exact-substring passage dedup at 8-gram granularity (the
    // suffix-array dedup of Lee et al. "Deduplicating Training Data
    // Makes Language Models Better", approximated by shingle counting —
    // the standard distributed form): every word-8-gram is a key, a
    // gram appearing in ≥ 2 distinct documents is a duplicated passage
    // witness. The whole pipeline is keyed on the gram itself —
    // map-side explode, one shuffle on the gram hash, one join back —
    // never all-pairs, so at 100 TB it is the same shape as d04's
    // band-bucket join (candidates ∝ per-gram doc counts, and any
    // stop-gram hot key is bounded by the corpus's true repetition
    // rate, which is exactly the signal being measured).
    "d09_duplicate_passages" -> QDef(
      (s, d) => {
        val ws = docs(s, d)
          .select(col("doc_id"), col("source"), split(col("text"), "\\s+").as("a"))
          .filter(size(col("a")) >= 8)
        val gramsS = ws.select(col("doc_id"), col("source"), explode(expr(
          "transform(sequence(0, size(a)-8), j -> concat_ws(' '," +
            " a[j], a[j+1], a[j+2], a[j+3], a[j+4], a[j+5], a[j+6], a[j+7]))")).as("gs"))
        // The gram TEXT never reaches the output — only gram identity is
        // aggregated — so the two gram-keyed exchanges ship an 8-byte
        // xxhash64 LONG instead of the ~60-byte gram string (the d10
        // round-10 move; isolated sf1.0 A/B in OPTIMIZATION_r12.md). A
        // collision would merge two grams' doc sets and silently inflate
        // ndocs past the ≥2 gate, so an independently-seeded second hash
        // rides along as a collision WITNESS, checked inside the existing
        // aggregates by d09GramDocCounts — unlike the d03/d10 string
        // tripwire, this costs no extra pass over the corpus-scale grams.
        val grams = gramsS.select(col("doc_id"), col("source"),
          xxhash64(col("gs")).as("g"), xxhash64(lit("d09w"), col("gs")).as("w"))
        val (pdg, dupG) = d09GramDocCounts(grams)
        val perDoc = pdg.join(dupG, Seq("g"))
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("ndg"), sum("occ").as("nocc"))
        val census = ws.groupBy("source").agg(count(lit(1)).as("n_docs"))
        perDoc.groupBy("source")
          .agg(count(lit(1)).as("n_docs_hit"),
            sum("ndg").as("n_dup_grams"),
            sum("nocc").as("n_dup_occurrences"))
          .join(census, Seq("source"))
          .select("source", "n_docs", "n_docs_hit", "n_dup_grams", "n_dup_occurrences")
          .orderBy("source")
      },
      """WITH ws AS (SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS a
        |            FROM documents WHERE len(regexp_split_to_array(text, '\s+')) >= 8),
        |grams AS (SELECT doc_id, source, unnest(list_transform(generate_series(1, len(a)-7),
        |            i -> a[i]||' '||a[i+1]||' '||a[i+2]||' '||a[i+3]||' '||a[i+4]||' '||a[i+5]||' '||a[i+6]||' '||a[i+7])) AS g
        |          FROM ws),
        |pdg AS (SELECT g, doc_id, source, count(*) AS occ FROM grams GROUP BY 1, 2, 3),
        |dg AS (SELECT g FROM (SELECT g, count(*) AS ndocs FROM pdg GROUP BY 1) WHERE ndocs >= 2),
        |per AS (SELECT doc_id, source, count(*) AS ndg, sum(occ) AS nocc
        |        FROM pdg JOIN dg USING (g) GROUP BY 1, 2),
        |census AS (SELECT source, count(*) AS n_docs FROM ws GROUP BY 1)
        |SELECT source, n_docs, count(*) AS n_docs_hit,
        |  CAST(sum(ndg) AS BIGINT) AS n_dup_grams,
        |  CAST(sum(nocc) AS BIGINT) AS n_dup_occurrences
        |FROM per JOIN census USING (source)
        |GROUP BY source, n_docs ORDER BY source""".stripMargin),

    // Cross-source containment (subsumption) dedup: directional shingle
    // containment C(A,B) = |sh(A) ∩ sh(B)| / |sh(A)| ≥ 0.9 with A and B
    // in different sources — the "is this doc already covered by another
    // dump" pass run between crawl snapshots. Candidate generation is the
    // kernel's prefix filter (SetSimilarity, `Subsumed`), never
    // all-pairs: A probes with its floor(n/10)+1 rarest shingles against
    // B's full set. Rare-shingle probing also bounds the join fan-out
    // (each probe key's bucket is its doc-frequency, small by
    // construction). All threshold comparisons are integer-only
    // (c*10 >= n*9) so both engines agree bit-for-bit at the boundary.
    "d10_cross_source_containment" -> QDef(
      (s, d) => {
        // 8-byte hashed shingles for the candidate and verify stages
        // (round 10, the d03 lesson): the string shingle is ~20 chars
        // and the verify join carries TWO full per-doc shingle arrays
        // per candidate pair, so hashing to LONG shrinks the widest
        // shuffles 4-8×. The prefix filter stays lossless under ANY
        // consistent global token order, so ranking by (df, hash)
        // instead of (df, string) changes only the candidate set, never
        // the exactly-verified output (the oracle keeps its string
        // order — the gate compares final rows, not candidates).
        // Collision risk across ~5e5 distinct shingles is ~1e-8 — and
        // DETECTED, not assumed: the once-per-dir tripwire below fails
        // the query loudly if distinct hashes ever diverge from
        // distinct shingle strings (carried ADVICE item, round 12).
        requireNoSigCollisionsOnce(s, d, "d10 shingle sig", shingles(s, d),
          col("sh"), xxhash64(col("sh")))
        val sets = shingles(s, d).groupBy("doc_id")
          .agg(collect_list(xxhash64(col("sh"))).as("tokens"), count(lit(1)).as("n"))
          .join(docs(s, d).select(col("doc_id"), col("source")), Seq("doc_id"))
          .select(col("source").as("group"), col("doc_id").as("id"), col("n"), col("tokens"))
        SetSimilarity.pairs(sets, Subsumed, _ =!= _)
          .groupBy(col("groupa").as("source"))
          .agg(countDistinct("ida").as("n_subsumed"), count(lit(1)).as("n_pairs"))
          .orderBy("source")
      },
      """WITH ws AS (SELECT doc_id, source, regexp_split_to_array(text, '\s+') AS ws FROM documents
        |           WHERE len(regexp_split_to_array(text, '\s+')) >= 3),
        |wrd AS (SELECT doc_id, source, generate_subscripts(ws, 1) AS i, unnest(ws) AS w FROM ws),
        |sh AS (SELECT DISTINCT a.doc_id, a.source, a.w || ' ' || b.w || ' ' || c.w AS sh
        |       FROM wrd a JOIN wrd b ON a.doc_id = b.doc_id AND b.i = a.i + 1
        |                  JOIN wrd c ON a.doc_id = c.doc_id AND c.i = a.i + 2),
        |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |dfq AS (SELECT sh, count(*) AS df FROM sh GROUP BY sh),
        |rk AS (SELECT s.doc_id, s.source, s.sh,
        |         row_number() OVER (PARTITION BY s.doc_id ORDER BY dfq.df, s.sh) AS rk, sz.n
        |       FROM sh s JOIN dfq USING (sh) JOIN sz USING (doc_id)),
        |pre AS (SELECT doc_id, source, sh FROM rk WHERE (rk - 1) * 10 <= n),
        |cand AS (SELECT DISTINCT p.doc_id AS da, b.doc_id AS db
        |         FROM pre p JOIN sh b ON p.sh = b.sh AND p.source <> b.source),
        |inter AS (SELECT c.da, c.db, count(*) AS c FROM cand c
        |          JOIN sh x ON x.doc_id = c.da JOIN sh y ON y.doc_id = c.db AND x.sh = y.sh
        |          GROUP BY 1, 2),
        |cont AS (SELECT i.da, i.db FROM inter i JOIN sz ON sz.doc_id = i.da
        |         WHERE i.c * 10 >= sz.n * 9)
        |SELECT d.source, count(DISTINCT c.da) AS n_subsumed, count(*) AS n_pairs
        |FROM cont c JOIN documents d ON d.doc_id = c.da
        |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // Frame sampling over the binary payload (every 2nd 64-byte frame):
    // the video-keyframe / audio-window extraction shape — a typed
    // flatMap that fans each payload out to its sampled frames only, no
    // shuffle, partitioning inherited from the scan. The oracle mirrors
    // the byte windows with substr (the synthetic payload is ASCII, so
    // char offsets == byte offsets).
    "m03_multimodal_frame_sample" -> QDef(
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, docs(s, d))
        Multimodal.sampleFrames(media, frameBytes = 64, stride = 2).toDF()
          .orderBy("doc_id", "frame_idx")
      },
      """WITH f AS (
        |  SELECT doc_id, text,
        |         unnest(generate_series(0, octet_length(CAST(text AS BLOB)) // 64 - 1)) AS fi
        |  FROM documents)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx, CAST(fi * 64 AS INT) AS frame_off,
        |  md5(substr(text, CAST(fi * 64 + 1 AS INT), 64)) AS frame_sig
        |FROM f WHERE fi % 2 = 0 ORDER BY doc_id, frame_idx""".stripMargin),

    // Resize-to-fit metadata (128×128 box, aspect preserved): the decoded
    // dimensions pass through an integer-only floor-division scale, so
    // both engines agree exactly. Payload resampling is the stubbed step;
    // the typed map plumbing is real.
    "m04_multimodal_resize" -> QDef(
      (s, d) => {
        val media = Multimodal.mediaFromDocuments(s, docs(s, d))
        Multimodal.resizeMeta(Multimodal.decodeAll(media, parallelism = 8), box = 128)
          .toDF().orderBy("doc_id")
      },
      """SELECT doc_id,
        |  CAST(64 + ord(substr(text, 1, 1)) % 64 AS INT) AS width,
        |  CAST(64 + ord(substr(text, 2, 1)) % 64 AS INT) AS height,
        |  CAST((64 + ord(substr(text, 1, 1)) % 64) * 128
        |    // greatest(64 + ord(substr(text, 1, 1)) % 64, 64 + ord(substr(text, 2, 1)) % 64) AS INT) AS rw,
        |  CAST((64 + ord(substr(text, 2, 1)) % 64) * 128
        |    // greatest(64 + ord(substr(text, 1, 1)) % 64, 64 + ord(substr(text, 2, 1)) % 64) AS INT) AS rh
        |FROM documents ORDER BY doc_id""".stripMargin),

    "m01_multimodal_binary" -> QDef(
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("payload"), col("n_chars"))
        .select(col("doc_id"),
          length(col("payload")).as("n_bytes"),
          lower(hex(substring(col("payload"), 1, 8))).as("header_hex"),
          expr("array_join(transform(sequence(1, 8), j -> CAST((n_bytes * j) % 97 AS STRING)), ';')")
            .as("features_sig"))
        .orderBy("doc_id"),
      """SELECT doc_id,
        | CAST(octet_length(CAST(text AS BLOB)) AS INT) AS n_bytes,
        | lower(hex(CAST(substr(text, 1, 8) AS BLOB))) AS header_hex,
        | array_to_string([CAST((octet_length(CAST(text AS BLOB)) * j) % 97 AS BIGINT) FOR j IN generate_series(1, 8)], ';') AS features_sig
        |FROM documents ORDER BY doc_id""".stripMargin),

    // REAL WAV audio decode (`javax.sound.sampled` — in the JDK, same
    // zero-dependency rationale as the imageio image path): WAV payloads
    // are SYNTHESIZED deterministically from document fields
    // (Multimodal.synthWav — canonical 44-byte header, 16-bit LE PCM,
    // frame f carrying (doc_id*131 + f*17) % 20001 - 10000 per channel),
    // then decoded by the real codec, so header parse, PCM byte order,
    // frame count, and amplitude math are exercised end-to-end while the
    // oracle recomputes every decoded field arithmetically. Compressed
    // codecs (no JDK support) keep the documented stub fallback.
    "m05_multimodal_audio" -> QDef(
      (s, d) => {
        import s.implicits._
        val media = docs(s, d).select("doc_id", "n_chars").as[(Long, Long)]
          .map { case (id, nc) => Multimodal.MediaIn(id, Multimodal.synthWav(id, nc)) }
        Multimodal.decodeAudioAll(media, parallelism = 8).toDF().orderBy("doc_id")
      },
      """WITH p AS (SELECT doc_id,
        |             CAST(8000 + (doc_id % 4) * 4000 AS INT) AS sample_rate,
        |             CAST(1 + doc_id % 2 AS INT) AS channels,
        |             50 + n_chars % 100 AS n_frames
        |           FROM documents),
        |f AS (SELECT doc_id, unnest(generate_series(0, n_frames - 1)) AS f FROM p),
        |a AS (SELECT doc_id,
        |             CAST(sum(abs((doc_id * 131 + f * 17) % 20001 - 10000)) AS BIGINT) AS sa
        |      FROM f GROUP BY doc_id)
        |SELECT p.doc_id,
        |  CAST(44 + p.n_frames * p.channels * 2 AS INT) AS n_bytes,
        |  p.sample_rate, p.channels, CAST(16 AS INT) AS bits,
        |  CAST(p.n_frames AS BIGINT) AS n_frames,
        |  CAST(p.n_frames * 1000000 // p.sample_rate AS BIGINT) AS duration_us,
        |  CAST(a.sa * p.channels AS BIGINT) AS sum_abs_amp
        |FROM p JOIN a USING (doc_id) ORDER BY p.doc_id""".stripMargin),

    // SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    // cluster the embedding space, then compute pairwise cosine ONLY
    // within each cluster and drop all but one exemplar of every near-dup
    // pair. Clusters here are the pre-assigned label cells (v08's
    // determinism trade — KMeans centroids would make the oracle
    // non-reproducible; in production the cluster id comes from
    // `AnnIndex.buildIvf`). The pair stage joins on the cluster key, so
    // its cost is Σ_c |c|² — the SemDeDup bound, never corpus² — and each
    // cluster's pairs land on that cluster's shuffle key. Keep rule:
    // the lowest vec_id of a similar pair survives (deterministic
    // stand-in for the paper's per-pair random exemplar).
    "d11_semantic_dedup" -> QDef(
      (s, d) => {
        val e = Tables(s, d, "embeddings")
        val a = e.select(col("label"), col("vec_id").as("va"), col("embedding").as("ea"))
        val b = e.select(col("label"), col("vec_id").as("vb"), col("embedding").as("eb"))
        val rm = a.join(b, Seq("label")).filter(col("va") < col("vb"))
          .filter(graft.functions.VectorFunctions.cosine_similarity(col("ea"), col("eb")) >= 0.35)
          .select(col("label"), col("vb").as("vec_id")).distinct()
        val census = e.groupBy("label").agg(count(lit(1)).as("n_total"))
        val removed = rm.groupBy("label").agg(count(lit(1)).as("n_removed"))
        census.join(removed, Seq("label"), "left")
          .select(col("label"), col("n_total"),
            coalesce(col("n_removed"), lit(0L)).as("n_removed"),
            (col("n_total") - coalesce(col("n_removed"), lit(0L))).as("n_kept"))
          .orderBy("label")
      },
      """WITH rm AS (
        |  SELECT DISTINCT a.label, b.vec_id
        |  FROM embeddings a JOIN embeddings b
        |    ON a.label = b.label AND a.vec_id < b.vec_id
        |  WHERE list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35),
        |census AS (SELECT label, count(*) AS n_total FROM embeddings GROUP BY 1),
        |removed AS (SELECT label, count(*) AS n_removed FROM rm GROUP BY 1)
        |SELECT c.label, c.n_total,
        |  COALESCE(r.n_removed, 0) AS n_removed,
        |  c.n_total - COALESCE(r.n_removed, 0) AS n_kept
        |FROM census c LEFT JOIN removed r USING (label)
        |ORDER BY label""".stripMargin),

    // Bigram-LM quality score (the order-sensitive companion to t11's
    // unigram score): score(doc) = mean corpus frequency of its adjacent
    // token PAIRS = (Σ count(bᵢ)) / (total_bigrams · n). As in t11 the
    // inner sum is over INTEGER corpus counts and the single division
    // happens per doc, so both engines produce bit-identical doubles.
    // The corpus bigram table is dictionary-sized (vocab²) at any corpus
    // scale; the per-doc bigram build is a map-side window over token
    // position — no shuffle beyond the doc_id partition.
    "t14_bigram_lm_score" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val toks = docs(s, d)
          .select(col("doc_id"), col("source"),
            posexplode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as(Seq("pos", "w")))
        val big = toks
          .withColumn("w2", lead("w", 1).over(w))
          .filter(col("w2").isNotNull)
          .select(col("doc_id"), col("source"), concat_ws(" ", col("w"), col("w2")).as("bg"))
        val bf = big.groupBy("bg").agg(count(lit(1)).as("bf"))
        // total bigrams = Σ bf — read the dictionary, not a third corpus pass
        val tot = bf.agg(sum("bf").as("tot"))
        big.join(bf, "bg")
          .groupBy("doc_id", "source")
          .agg(count(lit(1)).as("n"), sum("bf").as("sumbf"))
          .crossJoin(broadcast(tot))
          .withColumn("score", col("sumbf") / (col("tot").cast("double") * col("n")))
          .groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("score") < 0.0011, 1L).otherwise(0L)).as("n_low_quality"),
            round(min("score"), 8).as("min_score"),
            round(max("score"), 8).as("max_score"))
          .orderBy("source")
      },
      """WITH arr AS (SELECT doc_id, source, regexp_extract_all(text, '\S+') AS l FROM documents),
        |idx AS (SELECT doc_id, source, l, unnest(range(1, len(l))) AS i FROM arr),
        |big AS (SELECT doc_id, source, l[i] || ' ' || l[i + 1] AS bg FROM idx),
        |bf AS (SELECT bg, count(*) AS bf FROM big GROUP BY bg),
        |tot AS (SELECT count(*) AS tot FROM big),
        |per AS (
        |  SELECT doc_id, source,
        |    CAST(sum(bf) AS DOUBLE) / (CAST(tot AS DOUBLE) * CAST(count(*) AS DOUBLE)) AS score
        |  FROM big JOIN bf USING (bg) CROSS JOIN tot
        |  GROUP BY doc_id, source, tot)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN score < 0.0011 THEN 1 ELSE 0 END) AS BIGINT) AS n_low_quality,
        |  round(min(score), 8) AS min_score, round(max(score), 8) AS max_score
        |FROM per GROUP BY source ORDER BY source""".stripMargin),

    // Quality-filter funnel (the FineWeb/C4-style cascade): four
    // cumulative keep-predicates — length, token count, lexical
    // diversity, stopword density — reported as per-source survivor
    // counts at every stage. All four features come from map-side array
    // functions over the text (no explode, no shuffle before the one
    // per-source aggregate), and the ratio thresholds are compared in
    // integer arithmetic so both engines agree exactly. At 100 TB this
    // is the shape you want: the funnel is a single pass over the corpus
    // with a dictionary-sized result.
    "t15_filter_funnel" -> QDef(
      (s, d) => {
        val f = docs(s, d)
          .withColumn("l", expr("regexp_extract_all(text, '\\\\S+', 0)"))
          .select(col("source"), col("n_chars"),
            size(col("l")).cast("long").as("nw"),
            size(array_distinct(col("l"))).cast("long").as("ndw"),
            size(expr("filter(l, x -> x = 'the' OR x = 'a')")).cast("long").as("nstop"))
          .withColumn("p1", col("n_chars") >= 100)
          .withColumn("p2", col("p1") && col("nw") >= 25)
          .withColumn("p3", col("p2") && col("ndw") * 100 >= col("nw") * 40)
          .withColumn("p4", col("p3") && col("nstop") * 100 <= col("nw") * 12)
        f.groupBy("source").agg(
            count(lit(1)).as("s0_all"),
            sum(when(col("p1"), 1L).otherwise(0L)).as("s1_len"),
            sum(when(col("p2"), 1L).otherwise(0L)).as("s2_tokens"),
            sum(when(col("p3"), 1L).otherwise(0L)).as("s3_diversity"),
            sum(when(col("p4"), 1L).otherwise(0L)).as("s4_stopwords"))
          .orderBy("source")
      },
      """WITH f AS (
        |  SELECT source, n_chars,
        |    len(regexp_extract_all(text, '\S+')) AS nw,
        |    len(list_distinct(regexp_extract_all(text, '\S+'))) AS ndw,
        |    len(list_filter(regexp_extract_all(text, '\S+'), x -> x = 'the' OR x = 'a')) AS nstop
        |  FROM documents),
        |p AS (
        |  SELECT source,
        |    (n_chars >= 100) AS p1,
        |    (n_chars >= 100 AND nw >= 25) AS p2,
        |    (n_chars >= 100 AND nw >= 25 AND ndw * 100 >= nw * 40) AS p3,
        |    (n_chars >= 100 AND nw >= 25 AND ndw * 100 >= nw * 40 AND nstop * 100 <= nw * 12) AS p4
        |  FROM f)
        |SELECT source, count(*) AS s0_all,
        |  CAST(sum(CASE WHEN p1 THEN 1 ELSE 0 END) AS BIGINT) AS s1_len,
        |  CAST(sum(CASE WHEN p2 THEN 1 ELSE 0 END) AS BIGINT) AS s2_tokens,
        |  CAST(sum(CASE WHEN p3 THEN 1 ELSE 0 END) AS BIGINT) AS s3_diversity,
        |  CAST(sum(CASE WHEN p4 THEN 1 ELSE 0 END) AS BIGINT) AS s4_stopwords
        |FROM p GROUP BY source ORDER BY source""".stripMargin),

    // PMI-scored collocations over t14's bigram counts: for each adjacent
    // pair, lift = p(xy)/(p(x)p(y)) = bf·tot_u²/(cf₁·cf₂·tot_b) — the
    // exp(PMI) form, computed as ONE division of integer products so both
    // engines agree bit-for-bit (log() would diverge in the last ulp).
    // Unigram and bigram tables are both dictionary-sized; the only
    // shuffles are the two counting aggregates and two broadcast-sized
    // dictionary joins. min-count 5 is the standard collocation support
    // floor (kills rare-pair noise that dominates raw PMI).
    "t16_pmi_collocations" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("doc_id").orderBy("pos")
        val toks = docs(s, d)
          .select(col("doc_id"), posexplode(expr("regexp_extract_all(text, '\\\\S+', 0)")).as(Seq("pos", "w")))
        val uni = toks.groupBy("w").agg(count(lit(1)).as("cf"))
        val big = toks
          .withColumn("w2", lead("w", 1).over(w))
          .filter(col("w2").isNotNull)
        val bf = big.groupBy("w", "w2").agg(count(lit(1)).as("bf"))
        // corpus totals = Σ over the dictionary tables — no extra corpus pass
        val totU = uni.agg(sum("cf").as("tu"))
        val totB = bf.agg(sum("bf").as("tb"))
        bf.filter(col("bf") >= 5)
          .join(uni.select(col("w"), col("cf").as("cf1")), "w")
          .join(uni.select(col("w").as("w2"), col("cf").as("cf2")), "w2")
          .crossJoin(broadcast(totU)).crossJoin(broadcast(totB))
          .select(col("w"), col("w2"), col("bf"),
            round((col("bf") * col("tu") * col("tu")).cast("double") /
              (col("cf1") * col("cf2") * col("tb")).cast("double"), 6).as("lift"))
          .orderBy(desc("lift"), col("w"), col("w2")).limit(20)
      },
      """WITH arr AS (SELECT doc_id, regexp_extract_all(text, '\S+') AS l FROM documents),
        |tok AS (SELECT doc_id, unnest(range(1, len(l) + 1)) AS i, l FROM arr),
        |uni AS (SELECT l[i] AS w, count(*) AS cf FROM tok GROUP BY 1),
        |tu AS (SELECT count(*) AS tu FROM tok),
        |bigr AS (SELECT l[i] AS w, l[i + 1] AS w2 FROM tok WHERE i < len(l)),
        |bf AS (SELECT w, w2, count(*) AS bf FROM bigr GROUP BY w, w2),
        |tb AS (SELECT count(*) AS tb FROM bigr)
        |SELECT b.w, b.w2, b.bf,
        |  round(CAST(b.bf * tu.tu * tu.tu AS DOUBLE) /
        |        CAST(u1.cf * u2.cf * tb.tb AS DOUBLE), 6) AS lift
        |FROM bf b JOIN uni u1 ON u1.w = b.w JOIN uni u2 ON u2.w = b.w2
        |CROSS JOIN tu CROSS JOIN tb
        |WHERE b.bf >= 5
        |ORDER BY lift DESC, b.w, b.w2 LIMIT 20""".stripMargin),

    // Zipf's-law fit per source: least-squares slope of log-frequency vs
    // log-rank over each source's top-100 tokens — the standard corpus
    // sanity check (natural text ≈ −1; boilerplate/spam bends the curve).
    // Ranks and counts are integers, so lx/ly are 1e6-quantized BIGINTs
    // (g28's trick) and every regression sum is exact integer arithmetic;
    // the one double division at the end is bit-identical cross-engine.
    // One token-count shuffle + a top-100-per-source window: at 100 TB
    // the word-count table is the only corpus-sized stage, and the
    // regression runs over ≤100 rows per source.
    "t17_zipf_fit" -> QDef(
      (s, d) => {
        val toks = docs(s, d)
          .select(col("source"), explode(split(col("text"), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        val top = toks.groupBy("source", "w").agg(count(lit(1)).as("c"))
          .withColumn("rank",
            row_number().over(Window.partitionBy("source").orderBy(desc("c"), col("w"))))
          .filter(col("rank") <= 100)
          .withColumn("lx", expr("CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT)"))
          .withColumn("ly", expr("CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT)"))
        top.groupBy("source")
          .agg(count(lit(1)).as("n_top"), sum("lx").as("sx"), sum("ly").as("sy"),
            sum(expr("lx * ly")).as("sxy"), sum(expr("lx * lx")).as("sxx"))
          .select(col("source"), col("n_top"),
            round((col("n_top") * col("sxy") - col("sx") * col("sy")).cast("double") /
              (col("n_top") * col("sxx") - col("sx") * col("sx")).cast("double"), 4)
              .as("zipf_slope"))
          .orderBy("source")
      },
      """WITH raw AS (SELECT source, unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
        |tok AS (SELECT source, w FROM raw WHERE w <> ''),
        |wc AS (SELECT source, w, count(*) AS c FROM tok GROUP BY 1, 2),
        |top AS (SELECT source, w, c,
        |          row_number() OVER (PARTITION BY source ORDER BY c DESC, w) AS rank
        |        FROM wc QUALIFY rank <= 100),
        |lq AS (SELECT source,
        |         CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6) AS BIGINT) AS lx,
        |         CAST(round(ln(CAST(c AS DOUBLE)) * 1e6) AS BIGINT) AS ly
        |       FROM top),
        |ag AS (SELECT source, count(*) AS n_top, sum(lx) AS sx, sum(ly) AS sy,
        |              sum(lx * ly) AS sxy, sum(lx * lx) AS sxx
        |       FROM lq GROUP BY 1)
        |SELECT source, n_top,
        |  round(CAST(n_top * sxy - sx * sy AS DOUBLE) /
        |        CAST(n_top * sxx - sx * sx AS DOUBLE), 4) AS zipf_slope
        |FROM ag ORDER BY source""".stripMargin),

    // Distributed BPE merge discovery (the tokenizer-training core of an
    // LLM data pipeline): words → character sequences, then 3 rounds of
    // (count adjacent symbol pairs weighted by word frequency → merge the
    // argmax pair everywhere). Every round runs over the DISTINCT-WORD
    // table (Heaps-law ≪ corpus; the corpus itself is read once, for the
    // word-frequency build), so a round costs one vocab-sized pair agg
    // plus a 1-row broadcast of the winning pair back onto the vocab —
    // the shape that trains a tokenizer on 100 TB without a second
    // corpus shuffle. Merge application is one replace() pass over the
    // DOUBLE-space-joined sequence (pattern ' p1  p2 ' → ' p1p2 '): each
    // match consumes only one space of each separator, so consecutive
    // occurrences all merge and the scan IS canonical leftmost-greedy
    // BPE — identical in both engines; chain and self-adjacent cases
    // pinned in BpeMergesSpec. Count ties break lexicographically.
    "t18_bpe_merges" -> QDef(
      (s, d) => bpeMerges(s, d, 3),
      bpeOracleCtes(3) + """
        |SELECT r, pair, merged, wfreq FROM (
        |  SELECT 1 AS r, * FROM m1 UNION ALL SELECT 2, * FROM m2 UNION ALL SELECT 3, * FROM m3) z
        |ORDER BY r""".stripMargin),

    // BPE vocabulary APPLICATION census — the other half of the train/
    // apply loop: after t18's 3 learned merges, how well does the
    // vocabulary compress the corpus? Reads the SAME memoized training
    // artifact as t18 (one training run per session), then one
    // dictionary-sized aggregate over the segmented word table: corpus
    // symbol counts are Σ f·|segments| (weighted by word frequency, so
    // the census covers the full corpus, not the dictionary), all sums
    // integer. At 100 TB the dictionary is vocabulary-sized — the apply
    // pass costs one broadcast join at encode time, and this census is
    // the audit a tokenizer-training pipeline emits per round.
    "t22_bpe_apply_census" -> QDef(
      (s, d) => {
        val seqs = bpeTrain(s, d, 3)._2
        seqs.select(col("f"), length(col("w")).cast("long").as("nch"),
            size(split(trim(col("seq")), "  ")).cast("long").as("nsym"))
          .agg(count(lit(1)).as("n_words"),
            sum(col("f") * col("nch")).as("chars_total"),
            sum(col("f") * col("nsym")).as("sym_total"),
            round(sum(col("f") * col("nch")) / sum(col("f") * col("nsym")), 4)
              .as("chars_per_token"))
      },
      bpeOracleCtes(3) + """
        |SELECT count(*) AS n_words,
        |  CAST(sum(f * length(w)) AS BIGINT) AS chars_total,
        |  CAST(sum(f * len(string_split(trim(seq), '  '))) AS BIGINT) AS sym_total,
        |  round(CAST(sum(f * length(w)) AS DOUBLE)
        |        / sum(f * len(string_split(trim(seq), '  '))), 4) AS chars_per_token
        |FROM s3""".stripMargin),

    // Dedup impact accounting (the before/after report every dedup stage
    // ships with): d02's keep-first-by-content-hash rule applied, then
    // per-source doc and TOKEN counts before/after plus the duplicated-
    // token share in integer basis points. Keep decisions are global
    // (min doc_id per md5 group, even across sources), so a source that
    // copies another's documents shows the loss here — the
    // cross-ownership signal a mixture designer reads before reweighting.
    // One shuffle on the content hash; everything else map-side; all
    // outputs integers (no float-sum order dependence).
    "t20_dedup_impact" -> QDef(
      (s, d) => {
        val w = Window.partitionBy("h")
        val t = docs(s, d)
          .withColumn("h", md5(col("text").cast("binary")))
          .withColumn("ntok", regexp_count(col("text"), lit("\\S+")).cast("long"))
          .withColumn("keep", col("doc_id") === min("doc_id").over(w))
        t.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("keep"), 1L).otherwise(0L)).as("n_docs_kept"),
            sum("ntok").as("n_tokens"),
            sum(when(col("keep"), col("ntok")).otherwise(0L)).as("n_tokens_kept"))
          .withColumn("dup_token_bp",
            expr("(n_tokens - n_tokens_kept) * 10000 div n_tokens"))
          .orderBy("source")
      },
      """WITH t AS (SELECT doc_id, source, md5(text) AS h,
        |             CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok
        |           FROM documents),
        |k AS (SELECT *, doc_id = min(doc_id) OVER (PARTITION BY h) AS keep FROM t)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_kept,
        |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
        |  CAST(sum(CASE WHEN keep THEN ntok ELSE 0 END) AS BIGINT) AS n_tokens_kept,
        |  CAST((sum(ntok) - sum(CASE WHEN keep THEN ntok ELSE 0 END)) * 10000 // sum(ntok) AS BIGINT) AS dup_token_bp
        |FROM k GROUP BY source ORDER BY source""".stripMargin),

    // Data-mixture card — the per-(source, language) token accounting
    // every pretraining run documents before setting mixture weights:
    // doc/token counts plus each cell's share of the corpus in integer
    // basis points (exact, order-independent). One map-side token count
    // + one dictionary-keyed agg; the corpus total folds in as a 1-row
    // broadcast.
    "t23_mixture_card" -> QDef(
      (s, d) => {
        val t = docs(s, d)
          .withColumn("ntok", regexp_count(col("text"), lit("\\S+")).cast("long"))
        val cells = t.groupBy("source", "lang").agg(
          count(lit(1)).as("n_docs"), sum("ntok").as("n_tokens"))
        val tot = cells.agg(sum("n_tokens").as("tot"))
        cells.crossJoin(broadcast(tot))
          .withColumn("token_share_bp", expr("n_tokens * 10000 div tot"))
          .drop("tot")
          .orderBy("source", "lang")
      },
      """WITH t AS (SELECT source, lang,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok
        |  FROM documents),
        |cells AS (SELECT source, lang, count(*) AS n_docs,
        |    CAST(sum(ntok) AS BIGINT) AS n_tokens
        |  FROM t GROUP BY source, lang)
        |SELECT source, lang, n_docs, n_tokens,
        |  CAST(n_tokens * 10000 // (SELECT sum(n_tokens) FROM cells) AS BIGINT) AS token_share_bp
        |FROM cells ORDER BY source, lang""".stripMargin),

    // Fixed-window token chunking census (the pretraining/RAG "context
    // window" chunker): W=64-token windows at stride S=48, i.e. 16-token
    // overlap. Chunk i of a doc covers tokens [i·S, i·S+W), so every
    // chunk is full except possibly the LAST — which gives closed forms
    // for chunk count and summed chunk tokens, keeping the whole operator
    // map-side arithmetic + one dictionary-sized per-source agg. No
    // explode, no per-chunk shuffle: at 100 TB the chunk table itself
    // would be written by the same map-side expressions.
    "t21_chunk_census" -> QDef(
      (s, d) => chunkCensus(s, d, 64, 48),
      """WITH t AS (
        |  SELECT source,
        |    CAST(len(regexp_extract_all(text, '\S+')) AS BIGINT) AS ntok
        |  FROM documents),
        |c AS (
        |  SELECT source, ntok,
        |    CASE WHEN ntok <= 64 THEN 1 ELSE (ntok - 64 + 47) // 48 + 1 END AS nch
        |  FROM t),
        |l AS (
        |  SELECT source, ntok, nch,
        |    least(64, ntok - (nch - 1) * 48) AS last_len,
        |    (nch - 1) * 64 + least(64, ntok - (nch - 1) * 48) AS chunk_toks
        |  FROM c)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(nch) AS BIGINT) AS n_chunks,
        |  CAST(sum(CASE WHEN last_len < 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_partial_chunks,
        |  CAST(sum(chunk_toks) AS BIGINT) AS sum_chunk_tokens,
        |  round(CAST(sum(chunk_toks) AS DOUBLE) / sum(ntok), 4) AS expansion_ratio
        |FROM l GROUP BY source ORDER BY source""".stripMargin),

    // Count-min-sketch heavy hitters: a fixed 4×1024 counter grid (rows =
    // independent md5-derived hashes) estimates any token's frequency as
    // minⱼ grid[j][hⱼ(token)] — CMS never underestimates, and the grid
    // size is CONSTANT in the corpus, which is the whole point at 100 TB:
    // heavy-hitter screening without materializing a full vocabulary agg.
    // (Here the grid is built from the word-count table so the oracle can
    // replay it exactly; the streaming form updates the same 4096 cells
    // map-side from raw tokens.) All hashes are md5-derived, so the grid
    // — and therefore every estimate — is bit-identical cross-engine and
    // the gate hashes real estimates, not an approx_ok proxy. Output:
    // exact top-20 tokens with exact and CMS counts.
    "t19_cms_heavy_hitters" -> QDef(
      (s, d) => cmsHeavyHitters(s, d, 20),
      """WITH raw AS (SELECT unnest(regexp_split_to_array(text, '\s+')) AS w FROM documents),
        |tok AS (SELECT w FROM raw WHERE w <> ''),
        |wc AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
        |ju AS (SELECT unnest([0, 1, 2, 3]) AS j),
        |cms AS (SELECT j,
        |          CAST('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || w), 1, 7) AS BIGINT) % 1024 AS bucket,
        |          CAST(sum(c) AS BIGINT) AS tot
        |        FROM wc CROSS JOIN ju GROUP BY 1, 2),
        |top AS (SELECT w, c FROM wc ORDER BY c DESC, w LIMIT 20),
        |probe AS (SELECT t.w, t.c, ju.j,
        |            CAST('0x' || substr(md5(CAST(ju.j AS VARCHAR) || ':' || t.w), 1, 7) AS BIGINT) % 1024 AS bucket
        |          FROM top t CROSS JOIN ju)
        |SELECT p.w AS token, CAST(p.c AS BIGINT) AS exact_cnt, min(s.tot) AS cms_est
        |FROM probe p JOIN cms s ON s.j = p.j AND s.bucket = p.bucket
        |GROUP BY p.w, p.c ORDER BY exact_cnt DESC, token""".stripMargin)
  )
}
