package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{GraftSession, Memo, SparkEntry}
import graft.nql.{NqlCompiler, NqlParser}
import graft.streaming.EventStreams
import graft.unified.EntityStore
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** One benchmark run in one JVM: set up, run whole passes of a workload
  * (as many as `--seconds` buys, see [[Workloads.passes]]), and write
  * every op's record as JSON to `--out`. `perfbench/run.py` builds the classpath, launches this, checks
  * the outputs and prints the metrics.
  *
  * {{{
  * java ... perfbench.Main --workload graph-loops --seed 1 --seconds 10 \
  *   --trace 0 --data DATA_DIR --stream STREAM_DIR --work WORK_DIR --out run.json --cpus 4
  * java ... perfbench.Main --pin --data DATA_DIR --stream STREAM_DIR --work WORK_DIR \
  *   --out pin.json --cpus 4
  * }}}
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, stream: String, work: String, out: String, cpus: Int, pin: Boolean)

  /** When `main` was entered, for the JVM start-up share of `setup_s`. */
  private[perfbench] var mainStartMs: Long = 0L

  def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val pin = argv.contains("--pin")
    val a = Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toDouble, kv.getOrElse("trace", "0") == "1",
      need("data"), need("stream"), need("work"), need("out"), need("cpus").toInt, pin)
    require(pin || Workloads.names.contains(a.workload), s"unknown workload '${a.workload}'")
    a
  }

  def main(argv: Array[String]): Unit = {
    mainStartMs = System.currentTimeMillis()
    val a = parse(argv)
    val rec = if (a.pin) new Run(a).pin() else new Run(a).execute()
    Files.writeString(Paths.get(a.out), Json.render(rec))
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val all = Files.walk(p)
    try all.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally all.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val all = Files.walk(from)
    try all.iterator().asScala.foreach { s =>
      Files.copy(s, to.resolve(from.relativize(s).toString), StandardCopyOption.COPY_ATTRIBUTES)
    } finally all.close()
  }

  /** Bytes of the parquet data files under `p`. */
  def parquetFiles(p: Path): Seq[Long] = if (!Files.exists(p)) Nil else {
    val all = Files.walk(p)
    try all.iterator().asScala.filter(f => f.getFileName.toString.endsWith(".parquet"))
      .map(f => Files.size(f)).toSeq
    finally all.close()
  }
}

private final class Run(a: Main.Args) {
  import Main._

  private val isWrites = a.workload == "entity-writes"
  private val work = Paths.get(a.work)
  private val storeDir = work.resolve("store")
  private val preloadDir = work.resolve("preload")
  private val queries = SparkEntry.queries
  private var spark: SparkSession = _
  private var preload: WriteScript.Preload = _
  private var streams = 0

  private def now(): Long = System.nanoTime()
  private def secs(from: Long, to: Long): Double = (to - from) / 1e9

  private def session(): SparkSession = {
    val s = GraftSession.localBuilder(a.cpus.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def teardown(): Unit = {
    Memo.close(spark)
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Session start, warm-up and (entity-writes) store preload; returns
    * the seconds of the session and the rest. */
  private def setUp(): Map[String, Double] = {
    val t0 = now()
    spark = session()
    val t1 = now()
    if (isWrites) {
      preload = WriteScript.preload(a.seed)
      deleteTree(preloadDir)
      val st = new EntityStore(spark, preloadDir.toString)
      preload.entityBatches.foreach(st.put)
      preload.edgeBatches.foreach(st.connectBatch)
      val store = resetStore()
      Seq("ENTITY GET 'e:0'", "NEIGHBORS 'e:0'").foreach { q =>
        new NqlCompiler(spark, a.data, Some(store)).compile(NqlParser.parse(q)).collect()
      }
    } else {
      Workloads.warmUp(a.workload).foreach { n => build(n).collect(); dropStream(n) }
    }
    Memo.clearArtifacts(spark)
    Map("session_s" -> secs(t0, t1), "warmup_s" -> secs(t1, now()))
  }

  private def resetStore(): EntityStore = {
    deleteTree(storeDir)
    copyTree(preloadDir, storeDir)
    new EntityStore(spark, storeDir.toString)
  }

  /** The library's streaming plan over a file-source stream of the
    * events table (one file per micro-batch), complete output mode, into
    * a memory sink; the op's result is the sink's final table. */
  private def streamOp(): DataFrame = {
    val name = s"pb_stream_$streams"
    streams += 1
    val dir = a.stream
    val src = spark.readStream.schema(spark.read.parquet(dir).schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
      .withColumn("ts", col("ts").cast("timestamp"))
    val q = EventStreams.tumblingCountsStream(src).writeStream.format("memory")
      .queryName(name).outputMode("complete")
      .option("checkpointLocation", work.resolve("ckpt").resolve(name).toString)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    q.exception.foreach(e => throw e)
    spark.table(name)
  }

  private def build(name: String): DataFrame =
    if (name == Workloads.liveStream) streamOp() else queries(name)(spark, a.data)

  /** Drops the memory sink table the live stream op `name` left behind. */
  private def dropStream(name: String): Unit =
    if (name == Workloads.liveStream) spark.catalog.dropTempView(s"pb_stream_${streams - 1}")

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def errorOf(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** Time one op: `layers` run in order, the last returns the frame that
    * is then collected on the driver ("query.action"). */
  private def timeOp(group: String, tracer: Option[Tracer],
      layers: Seq[(String, () => Any)]): (Map[String, Any], Option[(StructType, Array[Row])]) = {
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    tracer.foreach(_.begin(group))
    val gc0 = gcSeconds()
    // per layer: wall-clock start and end (ms, to place Spark jobs, whose
    // event times are wall-clock) and duration (ns)
    val spans = Seq.newBuilder[(String, Long, Long, Long)]
    def span[A](n: String)(f: => A): A = {
      val (w, t) = (System.currentTimeMillis(), now())
      val r = f
      spans += ((n, w, System.currentTimeMillis(), now() - t))
      r
    }
    val t0 = now()
    var last: Any = null
    var failure: Option[Throwable] = None
    var result: Option[(StructType, Array[Row])] = None
    try {
      layers.foreach { case (n, f) => last = span(n)(f()) }
      val df = last.asInstanceOf[DataFrame]
      result = Some((df.schema, span("query.action")(df.collect())))
    } catch { case NonFatal(e) => failure = Some(e) }
    val total = secs(t0, now())
    val gc = gcSeconds() - gc0
    val s = spans.result()
    val tr = tracer.map(_.finish(s.map { case (n, b, e, _) => (n, b, e) }))
    sc.clearJobGroup()
    val rec = Map[String, Any](
      "ok" -> failure.isEmpty, "error" -> failure.map(errorOf), "total_s" -> total, "gc_s" -> gc,
      "layers" -> s.map { case (n, _, _, d) => n -> d / 1e9 }.toMap,
      "rows" -> result.map(_._2.length), "trace" -> tr)
    (rec, result)
  }

  private def catalogPass(p: Int, tracer: Option[Tracer]): Seq[Map[String, Any]] =
    Workloads.order(Workloads.catalog(a.workload), a.seed, p).zipWithIndex.map { case (name, i) =>
      val (rec, res) = timeOp(s"pb-$p-$i", tracer, Seq("query.build" -> (() => build(name))))
      val digest = res.map { case (schema, rows) =>
        try Digest.of(schema, rows) catch { case NonFatal(e) => s"error: ${errorOf(e)}" }
      }
      dropStream(name)
      rec ++ Map("name" -> name, "kind" -> "read", "module" -> Workloads.module(name),
        "digest" -> digest)
    }

  private def rowsOf(rows: Array[Row]): Seq[Seq[Any]] =
    rows.toSeq.map(r => r.toSeq.map(WriteModel.normalize))

  private def multiset(rows: Seq[Seq[Any]]): Seq[Seq[Any]] = rows.sortBy(_.mkString("\u0001"))

  private def writesPass(p: Int, tracer: Option[Tracer]): (Seq[Map[String, Any]], Map[String, Any]) = {
    val (stmts, model) = WriteScript.pass(a.seed, p, preload)
    val store = resetStore()
    val recs = stmts.zipWithIndex.map { case (st, i) =>
      var parsed: graft.nql.Statement = null
      val (rec, res) = timeOp(s"pb-$p-$i", tracer, Seq(
        "nql.parse" -> (() => { parsed = NqlParser.parse(st.text); parsed }),
        "nql.compile" -> (() => new NqlCompiler(spark, a.data, Some(store)).compile(parsed))))
      val want = st.expect.map(_.map(WriteModel.normalize))
      val right = res.map { case (_, rows) =>
        val got = rowsOf(rows)
        if (st.ordered) got == want else multiset(got) == multiset(want)
      }
      rec ++ Map("name" -> st.name, "statement" -> st.text, "kind" -> (if (st.write) "write" else "read"),
        "module" -> "unified", "check" -> right.map(if (_) "ok" else "wrong"))
    }
    // a fresh store on the same path must read back the modelled state
    val fresh = new EntityStore(spark, storeDir.toString)
    val (wantEnts, wantEdges) = model.state
    val readBack = try {
      multiset(rowsOf(fresh.entities.select("key", "props", "embedding").collect())) ==
        multiset(wantEnts.map(_.map(WriteModel.normalize))) &&
        multiset(rowsOf(fresh.edges.select("src", "dst", "etype").collect())) == multiset(wantEdges)
    } catch { case NonFatal(_) => false }
    (recs, Map("readback_ok" -> readBack))
  }

  /** Store size and space amplification after the last pass: on-disk
    * parquet bytes over the bytes of the latest-wins view written once. */
  private def storeStats(): Map[String, Any] = {
    val files = parquetFiles(storeDir)
    val view = work.resolve("latest-view")
    deleteTree(view)
    val fresh = new EntityStore(spark, storeDir.toString)
    fresh.entities.coalesce(1).write.parquet(view.resolve("entities").toString)
    fresh.edges.coalesce(1).write.parquet(view.resolve("edges").toString)
    val viewBytes = parquetFiles(view).sum
    Map("log_files" -> files.size, "store_mb" -> files.sum / 1e6,
      "space_amp" -> files.sum.toDouble / viewBytes)
  }

  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  def execute(): Map[String, Any] = {
    // set-up runs once, cold: from JVM start to the first timed op
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val setupPhases = setUp() + ("jvm_s" -> (mainStartMs - jvmStart) / 1e3)
    val tracer = if (a.trace) Some(new Tracer(spark, if (isWrites) Some(storeDir.toString) else None)) else None
    val setup = (System.currentTimeMillis() - jvmStart) / 1e3
    val ops = Seq.newBuilder[Map[String, Any]]
    val passes = Seq.newBuilder[Map[String, Any]]
    val passCount = Workloads.passes(a.workload, a.seconds, a.trace)
    for (p <- 0 until passCount) {
      val traced = Workloads.traced(p, a.trace)
      val tr = if (traced) tracer else None
      tr.foreach(_.attach())
      Memo.clearArtifacts(spark)
      val t0 = now()
      val (recs, extra) =
        if (isWrites) writesPass(p, tr) else (catalogPass(p, tr), Map.empty[String, Any])
      val wall = secs(t0, now())
      val rdd = spark.sparkContext.getRDDStorageInfo
      passes += extra ++ Map("pass" -> p, "traced" -> traced, "wall_s" -> wall,
        "memo_entries" -> Memo.entryCount(spark),
        "cached_mb" -> rdd.map(i => i.memSize + i.diskSize).sum / 1e6)
      tr.foreach(_.detach())
      ops ++= recs.map(_ ++ Map("pass" -> p, "traced" -> traced))
    }
    val store = if (isWrites) storeStats() else Map.empty[String, Any]
    val meta = Map[String, Any]("workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "cpus" -> a.cpus, "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "java" -> System.getProperty("java.version"), "spark" -> spark.version,
      "scala" -> scala.util.Properties.versionNumberString,
      "preload" -> (if (isWrites) Map("entity_appends" -> WriteScript.PreloadEntityBatches,
        "edge_appends" -> WriteScript.PreloadEdgeBatches, "pass_ops" -> WriteScript.PassOps) else null))
    val out = Map[String, Any]("meta" -> meta, "setup_s" -> setup,
      "setup_phases" -> setupPhases, "passes" -> passes.result(),
      "ops" -> ops.result(), "store" -> store, "heap_after_gc_mb" -> heapAfterGcMb())
    teardown()
    out
  }

  /** Every catalog op of every workload once, and the batch query the
    * live stream must reproduce, with row count and digest, for pinning
    * reference digests. */
  def pin(): Map[String, Any] = {
    spark = session()
    val names = (Workloads.catalog.values.flatten.toSeq :+ Workloads.liveStreamBatch).distinct.sorted
    val recs = names.map { n =>
      Memo.clearArtifacts(spark)
      val (rec, res) = timeOp(s"pin-$n", None, Seq("query.build" -> (() => build(n))))
      rec ++ Map("name" -> n, "digest" -> res.map { case (s, r) => Digest.of(s, r) })
    }
    teardown()
    Map("ops" -> recs, "oracle" -> SparkEntry.oracleSql.filter(kv => names.contains(kv._1)))
  }
}
