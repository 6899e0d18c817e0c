package graft.unified

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.functions.VectorFunctions._
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Writable unified entity store (reference ENTITY CREATE/UPDATE/DELETE/
  * CONNECT + EMBED STORE + NODE/EDGE CREATE —
  * `tensor_unified/src/lib.rs:475-880`), rebuilt as a lakehouse append
  * log: every mutation appends a versioned parquet batch; readers take
  * latest-wins per key. No in-place mutation, no locks — the pattern that
  * scales to many concurrent writers on object storage. Compaction =
  * rewrite of the latest view (`compact()`).
  *
  * Latest-wins view. Each log (entities, edges) keeps one materialized
  * view of its latest record per identity, tombstones included, so a
  * read does not re-scan the log:
  *  - the first read builds it from the log (read with the declared
  *    schema, no inference), keeping the highest `seq` per identity;
  *  - every append writes one parquet file and also keeps its rows on
  *    the driver; the next read folds them in — drop the view rows of the
  *    appended identities, union the appended rows, cut once. A pending
  *    row older (by `seq`) than the view's row for its identity loses, so
  *    plain appends that finish out of order still resolve by `seq`.
  *    Past [[EntityStore.MaxPendingRows]] unread rows, appends keep only
  *    their file names and the next read rebuilds the view instead;
  *  - a view is never unpersisted explicitly: a DataFrame handed out
  *    before a later write or `compact()` keeps reading its own version,
  *    and the ContextCleaner reclaims versions nothing references.
  *
  * Validity rule. Every read lists the log directory (a driver-side
  * file-system call, not a Spark job). The view accounts for the files it
  * was built from and the files of the appends folded into it; if the
  * listing holds a file it does not account for, or lacks one it was
  * built from (another `EntityStore` on the same path appended, or
  * `compact()` rewrote the log), the read rebuilds the view from the log.
  *
  * Failure semantics. A view is cut with `localCheckpoint`: its blocks
  * live in executor block managers and carry no lineage. If they are lost,
  * a job over a frame handed out earlier fails with a missing-block
  * error instead of recomputing; the log stays the durable copy, and a
  * read whose fold fails rebuilds the view from the log.
  */
final class EntityStore(spark: SparkSession, path: String) {
  import EntityStore._

  private val entityLog = new AppendLog(s"$path/entities", EntitySchema, Seq("key"))
  private val edgeLog = new AppendLog(s"$path/edges", EdgeSchema, Seq("src", "dst", "etype"))
  private val seq = new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis() * 1000)

  private def nextSeq(): Long = seq.incrementAndGet()

  /** Write-path mutual exclusion for READ-MERGE-APPEND statements
    * (ENTITY UPDATE, EMBED STORE, NODE BATCH UPDATE, Cypher MATCH…SET):
    * their merge reads the latest row, folds props, and appends — two
    * interleaved merges on one key would both read the same pre-image
    * and the second append would silently drop the first's assignment
    * (lost update). Executors holding this monitor serialize those
    * statement bodies, so within one process the merge is atomic and
    * lost updates are impossible (spec-pinned,
    * EntityStoreConcurrencySpec). Plain appends (CREATE / DELETE /
    * CONNECT) don't need it — they are order-insensitive latest-wins
    * records that never read.
    *
    * CROSS-PROCESS contract (documented, COVERAGE.md): the store is
    * single-writer-process. The reference engine is single-threaded
    * (`tensor_unified/src/lib.rs` holds `&mut self` for every mutation)
    * and has no sharper guarantee; a multi-process deployment would
    * hoist this monitor to a storage-layer conditional-put (object-store
    * CAS or a lakehouse table format's optimistic commit), which the
    * append-log layout already accommodates — merge statements re-read
    * and retry on conflict without rewriting history. */
  private[this] val mergeLock = new Object
  def withMergeLock[A](f: => A): A = mergeLock.synchronized(f)

  /** Create or fully replace entities (props + optional embedding). */
  def put(rows: Seq[EntityRow]): Unit = append(rows.map(r => (r.key, r.props, r.embedding, false)))

  /** Tombstone: the key disappears from the latest view. */
  def delete(keys: Seq[String]): Unit = append(keys.map(k => (k, Map.empty[String, String], None, true)))

  private def append(rows: Seq[(String, Map[String, String], Option[Array[Float]], Boolean)]): Unit = {
    // a null key would make the view's `key IN (…)` fold filter null for
    // every row
    require(rows.forall(_._1 != null), "entity keys must not be null")
    val s = nextSeq()
    // All rows in one batch share a seq, so duplicate keys inside a batch
    // would tie in the latest-wins view and survive nondeterministically.
    // Dedupe last-wins here (batch order = statement order) so the row the
    // user wrote last is the one that wins, deterministically.
    val lastWins = rows.zipWithIndex
      .groupBy(_._1._1).values.map(_.maxBy(_._2)._1).toSeq
    entityLog.append(s, lastWins.map { case (k, p, e, del) => Row(k, p, e.orNull, del, s) })
  }

  /** Directed typed edge between entity keys. */
  def connect(src: String, dst: String, etype: String): Unit =
    connectBatch(Seq((src, dst, etype)))

  /** Batch edge create: ONE versioned log append for the whole batch
    * (reference batch graph DML, `graph_engine/src/lib.rs:8027-8380`). */
  def connectBatch(edges: Seq[(String, String, String)]): Unit = {
    val s = nextSeq()
    // Same-batch duplicate edge identities: last occurrence wins (see append).
    val lastWins = edges.zipWithIndex
      .groupBy(_._1).values.map(_.maxBy(_._2)._1).toSeq
    edgeLog.append(s, lastWins.map { case (src, dst, et) => Row(src, dst, et, false, s) })
  }

  def disconnect(src: String, dst: String, etype: String): Unit = {
    val s = nextSeq()
    edgeLog.append(s, Seq(Row(src, dst, etype, true, s)))
  }

  /** Latest record per key, tombstones included:
    * `key, props, embedding, deleted`. */
  def entityRecords: DataFrame = entityLog.latest.drop("seq")

  /** Latest record per (src, dst, etype), tombstones included:
    * `src, dst, etype, deleted`. */
  def edgeRecords: DataFrame = edgeLog.latest.drop("seq")

  /** Latest-wins live view of entities. */
  def entities: DataFrame = entityRecords.filter(!col("deleted")).drop("deleted")

  /** Latest-wins live view of edges. */
  def edges: DataFrame = edgeRecords.filter(!col("deleted")).drop("deleted")

  /** Keys whose latest record is a tombstone — overlay readers anti-join
    * their base relation against these so a delete masks base rows too. */
  def deletedKeys: DataFrame = entityRecords.filter(col("deleted")).select("key")

  /** Edge identities whose latest record is a tombstone. */
  def deletedEdges: DataFrame = edgeRecords.filter(col("deleted")).select("src", "dst", "etype")

  /** Live rows (`key, props, embedding`) of `keys`, by key: the pre-image
    * lookup of the read-merge-append statements. A hash-set filter over
    * the in-memory view, collected; `keys` is statement- or batch-sized,
    * so the result is too. */
  def lookup(keys: Seq[String]): Map[String, Row] =
    entities.filter(col("key").isin(keys: _*)).collect().map(r => r.getString(0) -> r).toMap

  /** 1-hop neighbors (out + in). */
  def neighbors(key: String): DataFrame = {
    val e = edges
    e.filter(col("src") === key).select(col("dst").as("key"), col("etype"))
      .union(e.filter(col("dst") === key).select(col("src").as("key"), col("etype")))
  }

  /** Brute-force top-k cosine against a stored entity's embedding. */
  def similar(key: String, k: Int): DataFrame = {
    val ents = entities
    val q = ents.filter(col("key") === key)
      .select(col("embedding").as("qv")).limit(1)
    ents.filter(col("key") =!= key && col("embedding").isNotNull)
      .crossJoin(broadcast(q))
      .select(col("key"), round(cosine_similarity(col("embedding"), col("qv")), 4).as("score"))
      .orderBy(desc("score"), col("key")).limit(k)
  }

  /** SIMILAR k CONNECTED TO e over the live store (2× oversample). */
  def similarConnectedTo(key: String, e: String, k: Int): DataFrame =
    similar(key, 2 * k)
      .join(neighbors(e).select("key").distinct(), Seq("key"))
      .orderBy(desc("score"), col("key")).limit(k)

  /** Rewrite the logs down to one record per key (bounds read
    * amplification). Tombstones are KEPT, not dropped: since deletes also
    * mask the derived base graph (`deletedKeys`/`deletedEdges`), dropping
    * them here would resurrect deleted base rows on the next read. The
    * next read finds the rewritten files and rebuilds its view. */
  def compact(): Unit = Seq(entityLog, edgeLog).foreach { log =>
    val tmp = s"${log.dir}.compact"
    log.latest.withColumn("seq", lit(nextSeq())).write.mode(SaveMode.Overwrite).parquet(tmp)
    spark.read.schema(log.schema).parquet(tmp).write.mode(SaveMode.Overwrite).parquet(log.dir)
  }

  /** One append-only parquet log and its latest-wins view (see the class
    * doc). `ids` are the columns of a record's identity. */
  private final class AppendLog(val dir: String, val schema: StructType, ids: Seq[String]) {
    private val dirPath = new Path(dir)
    private val idIdx = ids.map(schema.fieldIndex)
    private val seqIdx = schema.fieldIndex("seq")
    /** Appends written but not yet folded into the view, and their rows. */
    private val pending = new java.util.concurrent.ConcurrentLinkedQueue[Batch]()
    private val pendingRows = new java.util.concurrent.atomic.AtomicLong()
    // The view and what it accounts for; guarded by `this`.
    private var view: DataFrame = null
    private var files = Set.empty[String]
    private var maxSeq = Long.MinValue
    private var parts = 1

    private def fs = dirPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    private def isData(name: String) = !name.startsWith("_") && !name.startsWith(".")
    private def idOf(r: Row): Seq[String] = idIdx.map(r.getString)
    private def idCol: Column = if (ids.size == 1) col(ids.head) else array(ids.map(col): _*)
    private def idLit(id: Seq[String]): Column = if (ids.size == 1) lit(id.head) else typedLit(id)
    private def idIn(set: Iterable[Seq[String]]): Column = idCol.isin(set.toSeq.map(idLit): _*)

    /** Writes `rows` as one parquet file. The file is written to a hidden
      * staging directory and moved into the log, so the append knows its
      * file name and readers never see a half-written file. */
    def append(seq: Long, rows: Seq[Row]): Unit = {
      val stage = new Path(dirPath, s"_append-$seq-${java.util.UUID.randomUUID()}")
      spark.createDataFrame(rows.asJava, schema).coalesce(1).write.parquet(stage.toString)
      val fs = this.fs
      val written = fs.listStatus(stage).iterator.map(_.getPath).filter(p => isData(p.getName))
      val moved = written.map { p =>
        if (!fs.rename(p, new Path(dirPath, p.getName)))
          throw new java.io.IOException(s"cannot move $p into $dir")
        p.getName
      }.toSet
      // past MaxPendingRows unread rows, later appends keep only their
      // file names and the next read rebuilds from the log instead
      val keep = pendingRows.addAndGet(rows.size) <= MaxPendingRows
      pending.add(Batch(if (keep) Some(rows) else None, rows.size, moved))
      fs.delete(stage, true)
    }

    private def listing(): Set[String] =
      try fs.listStatus(dirPath).iterator.filter(_.isFile).map(_.getPath.getName).filter(isData).toSet
      catch { case _: java.io.FileNotFoundException => Set.empty }

    /** Latest record per identity, tombstones included, with `seq`. */
    def latest: DataFrame = synchronized {
      // list before draining: an append registers only after its file is
      // in the directory, so every drained batch not listed here is newer
      val listed = listing()
      val batches = Iterator.continually(pending.poll()).takeWhile(_ != null).toVector
      pendingRows.addAndGet(-batches.map(_.size.toLong).sum)
      val known = files ++ batches.flatMap(_.files)
      if (view == null || batches.exists(_.rows.isEmpty) || !listed.subsetOf(known) ||
          !files.subsetOf(listed)) rebuild(listed)
      else {
        try { fold(batches.filterNot(_.files.subsetOf(files))); files = known }
        catch { case NonFatal(_) => rebuild(listing()) }
      }
      view
    }

    private def rebuild(listed: Set[String]): Unit = {
      view = null
      if (listed.isEmpty) {
        view = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        maxSeq = Long.MinValue
        parts = 1
      } else {
        val w = Window.partitionBy(ids.map(col): _*).orderBy(desc("seq"))
        val v = spark.read.schema(schema).parquet(dir)
          .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
          .localCheckpoint()
        maxSeq = Option(v.agg(max("seq")).head().get(0)).fold(Long.MinValue)(_.asInstanceOf[Long])
        parts = math.max(1, v.rdd.getNumPartitions)
        view = v
      }
      files = listed
    }

    /** Folds appended rows into the view: per identity the newest pending
      * row, unless the view already holds a row with a seq as high. */
    private def fold(batches: Seq[Batch]): Unit = if (batches.nonEmpty) {
      val newest = batches.flatMap(_.rows.get).groupBy(idOf)
        .map { case (id, rs) => id -> rs.maxBy(_.getLong(seqIdx)) }
      val older = newest.filter(_._2.getLong(seqIdx) <= maxSeq)
      val superseded =
        if (older.isEmpty) Set.empty[Seq[String]]
        else view.filter(idIn(older.keys)).select((ids :+ "seq").map(col): _*)
          .collect().map(r => (ids.indices.map(r.getString), r.getLong(ids.size)))
          .collect { case (id, s) if s >= older(id).getLong(seqIdx) => id }.toSet
      val winners = newest -- superseded
      if (winners.nonEmpty) {
        val add = spark.createDataFrame(winners.values.toSeq.asJava, schema)
        view = view.filter(!idIn(winners.keys)).union(add)
          .coalesce(parts).localCheckpoint()
        maxSeq = math.max(maxSeq, winners.values.map(_.getLong(seqIdx)).max)
      }
    }
  }
}

object EntityStore {
  final case class EntityRow(key: String, props: Map[String, String], embedding: Option[Array[Float]])

  /** One append: its rows (with `seq`; None when dropped to bound
    * driver memory), their number and the log files it wrote. */
  private final case class Batch(rows: Option[Seq[Row]], size: Int, files: Set[String])

  /** Unread appended rows the driver holds for the next fold; beyond
    * this, reads rebuild the view from the log (a streamed MATCH … DELETE
    * of a large key set must not accumulate its tombstones in memory). */
  private val MaxPendingRows = 100000L

  private val EntitySchema = StructType(Seq(
    StructField("key", StringType), StructField("props", MapType(StringType, StringType)),
    StructField("embedding", ArrayType(FloatType)), StructField("deleted", BooleanType),
    StructField("seq", LongType)))

  private val EdgeSchema = StructType(Seq(
    StructField("src", StringType), StructField("dst", StringType),
    StructField("etype", StringType), StructField("deleted", BooleanType),
    StructField("seq", LongType)))
}
