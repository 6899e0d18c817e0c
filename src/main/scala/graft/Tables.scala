package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (see TESTDATA.md).
  *
  * Every query takes the scale-factor directory as a parameter so the same
  * plan runs at sf0.001 (smoke), sf0.01 (correctness) and sf0.1+ (bench).
  * Each table's frame is held per (session, dir) in a [[Memo.artifact]]
  * map: the parquet footer is read and the schema inferred (one Spark job)
  * on the first call only, and `events.ts` is normalized once. The held
  * frame is still a plain, uncached parquet plan, so Catalyst keeps full
  * pushdown/pruning freedom. [[Memo.clearArtifacts]] drops the frames;
  * the next call lists the files and infers the schema again. Two reads
  * of one table share attribute ids: alias them before a `df("col")`
  * reference across a self-join.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  private val held = Memo.artifact[(SparkSession, String, String), DataFrame]()

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    held.getOrElseUpdate((spark, sfDir, name), read(spark, sfDir, name))

  private def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    if (name == "events") {
      // events.ts has shipped as either TIMESTAMP(NANOS) (older driver runs;
      // Spark 4 reads it as long only under
      // spark.sql.legacy.parquet.nanosAsLong=true, which GraftSession sets at
      // construction) or TIMESTAMP(MICROS) (current driver runs, read
      // natively as timestamp). Normalize both to a microsecond timestamp so
      // every downstream plan sees one schema; the nanos branch
      // floor-converts exactly like DuckDB's ns→µs truncation.
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
        case org.apache.spark.sql.types.TimestampNTZType =>
          // Session TZ is UTC (GraftSession), so this cast is a pure type
          // relabel — the stored microsecond value is unchanged, matching
          // DuckDB's naive read of the same column.
          raw.withColumn("ts", raw("ts").cast(org.apache.spark.sql.types.TimestampType))
        case _ => raw
      }
    } else {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }
}

/** One declared operator query: the Spark implementation plus (when the
  * semantics are ANSI-SQL-expressible) an equivalent DuckDB oracle query.
  * Queries without an oracle get the driver's weaker rows-only check.
  */
final case class QDef(fn: (SparkSession, String) => DataFrame, oracle: Option[String])

object QDef {
  def apply(fn: (SparkSession, String) => DataFrame, sql: String): QDef =
    QDef(fn, Some(sql))
}
