package graft.pipeline

import graft.{GraftSession, Tables}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the d03 set-similarity join (not part of
  * the driver contract): re-composes wordJaccardPairs stage by stage and
  * times each materialization, so optimization goes where the seconds
  * are instead of where the theory points. Run:
  * SPARK_GRAFT_SF_DIR=target/sf1.0 sbt 'Test/runMain graft.pipeline.DevD03'
  */
object DevD03 {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/repo/target/sf1.0")
    val spark: SparkSession = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))

    def time(label: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"[devd03] $label%-28s ${(System.nanoTime() - t0) / 1e9}%7.2f s  (rows=$n)")
    }

    val words = Tables(spark, d, "documents")
      .select(col("doc_id"), col("source"),
        explode(array_distinct(split(col("text"), "\\s+"))).as("w"))
      .filter(col("w") =!= "")
    time("words")(words.count())

    val sets = graft.graph.Superstep.cut(
      words.groupBy("doc_id").agg(
          first(col("source")).as("source"),
          sort_array(collect_set(col("w"))).as("wa"))
        .withColumn("sig", md5(concat_ws(" ", col("wa"))))
        .withColumn("n", size(col("wa"))))
    time("sets (collapse)")(sets.count())
    val memb = sets.select("doc_id", "source", "sig")
    val reps = sets.groupBy("source", "sig")
      .agg(first(col("wa")).as("wa"), first(col("n")).as("n"))
    time("reps (distinct sets)")(reps.count())

    val tok = reps.select(col("source"), col("sig"), col("n"), explode(col("wa")).as("w"))
    val dfq = tok.groupBy("w").agg(count(lit(1)).as("df"))
    val ranked = tok.join(dfq, Seq("w"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source", "sig").orderBy(col("df"), col("w"))))
      .select(col("source"), col("sig"), col("n"), col("w"), col("rk"))
    val probe = graft.graph.Superstep.cut(ranked.filter((col("rk") - 1) * 5 <= col("n")))
    val mid = graft.graph.Superstep.cut(ranked.filter(expr("rk - 1 <= n - ((8 * n + 8) DIV 9)")))
    time("probe prefix")(probe.count())
    time("mid prefix")(mid.count())

    val candRaw = probe.select(col("source"), col("sig").as("siga"), col("n").as("na"),
        col("w"), col("rk").as("rka"))
      .join(mid.select(col("source"), col("sig").as("sigb"), col("n").as("nb"), col("w"),
        col("rk").as("rkb")),
        Seq("source", "w"))
      .filter(col("nb") < col("na") ||
        (col("nb") === col("na") && col("sigb") < col("siga")))
      .filter(col("nb") * 5 >= col("na") * 4)
    time("cand rows pre-positional")(candRaw.count())
    val candPos = candRaw
      .filter((lit(1) + least(col("na") - col("rka"), col("nb") - col("rkb"))) * 9 >=
        (col("na") + col("nb")) * 4)
    time("cand rows post-positional")(candPos.count())
    val cand = graft.graph.Superstep.cut(candPos.select("source", "siga", "sigb").distinct())
    time("cand distinct pairs")(cand.count())

    val scored = graft.graph.Superstep.cut(cand
      .join(reps.select(col("source"), col("sig").as("siga"),
        col("wa").as("waa"), col("n").as("na")), Seq("source", "siga"))
      .join(reps.select(col("source"), col("sig").as("sigb"),
        col("wa").as("wab"), col("n").as("nb")), Seq("source", "sigb"))
      .withColumn("c", size(array_intersect(col("waa"), col("wab"))))
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.8)
      .select("source", "siga", "sigb", "jaccard"))
    time("scored (verify)")(scored.count())

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
    val pairs = cross.unionByName(ident)
    time("pairs (expand)")(pairs.count())
    time("gate (round+orderBy)")(
      pairs.select(col("da"), col("db"), round(col("jaccard"), 4).as("jaccard"))
        .orderBy("da", "db").count())

    // ---- composed-plan variants (what the bench actually times) ------
    def composed(cutReps: Boolean, cutRanked: Boolean, cutCand: Boolean): org.apache.spark.sql.DataFrame = {
      val sets2 = graft.graph.Superstep.cut(
        words.groupBy("doc_id").agg(
            first(col("source")).as("source"),
            sort_array(collect_set(col("w"))).as("wa"))
          .withColumn("sig", md5(concat_ws(" ", col("wa"))))
          .withColumn("n", size(col("wa"))))
      val memb2 = sets2.select("doc_id", "source", "sig")
      val reps0 = sets2.groupBy("source", "sig")
        .agg(first(col("wa")).as("wa"), first(col("n")).as("n"))
      val reps2 = if (cutReps) graft.graph.Superstep.cut(reps0) else reps0
      val tok2 = reps2.select(col("source"), col("sig"), col("n"), explode(col("wa")).as("w"))
      val dfq2 = tok2.groupBy("w").agg(count(lit(1)).as("df"))
      val ranked0 = tok2.join(dfq2, Seq("w"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source", "sig").orderBy(col("df"), col("w"))))
        .select(col("source"), col("sig"), col("n"), col("w"), col("rk"))
      val ranked2 = if (cutRanked) graft.graph.Superstep.cut(ranked0) else ranked0
      val probe2 = ranked2.filter((col("rk") - 1) * 5 <= col("n"))
      val mid2 = ranked2.filter(expr("rk - 1 <= n - ((8 * n + 8) DIV 9)"))
      val cand0 = probe2.select(col("source"), col("sig").as("siga"), col("n").as("na"),
          col("w"), col("rk").as("rka"))
        .join(mid2.select(col("source"), col("sig").as("sigb"), col("n").as("nb"), col("w"),
          col("rk").as("rkb")),
          Seq("source", "w"))
        .filter(col("nb") < col("na") ||
          (col("nb") === col("na") && col("sigb") < col("siga")))
        .filter(col("nb") * 5 >= col("na") * 4)
        .filter((lit(1) + least(col("na") - col("rka"), col("nb") - col("rkb"))) * 9 >=
          (col("na") + col("nb")) * 4)
        .select("source", "siga", "sigb").distinct()
      val cand2 = if (cutCand) graft.graph.Superstep.cut(cand0) else cand0
      val scored2 = cand2
        .join(reps2.select(col("source"), col("sig").as("siga"),
          col("wa").as("waa"), col("n").as("na")), Seq("source", "siga"))
        .join(reps2.select(col("source"), col("sig").as("sigb"),
          col("wa").as("wab"), col("n").as("nb")), Seq("source", "sigb"))
        .withColumn("c", size(array_intersect(col("waa"), col("wab"))))
        .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
        .filter(col("jaccard") >= 0.8)
        .select("source", "siga", "sigb", "jaccard")
      val cross2 = scored2
        .join(memb2.select(col("source"), col("sig").as("siga"), col("doc_id").as("ia")),
          Seq("source", "siga"))
        .join(memb2.select(col("source"), col("sig").as("sigb"), col("doc_id").as("ib")),
          Seq("source", "sigb"))
        .select(least(col("ia"), col("ib")).as("da"),
          greatest(col("ia"), col("ib")).as("db"), col("jaccard"))
      val ident2 = memb2.select(col("source"), col("sig"), col("doc_id").as("da"))
        .join(memb2.select(col("source"), col("sig"), col("doc_id").as("db")), Seq("source", "sig"))
        .filter(col("da") < col("db"))
        .select(col("da"), col("db"), lit(1.0).as("jaccard"))
      cross2.unionByName(ident2)
    }
    time("composed cut ranked only")(graft.graph.Superstep.cut(
      composed(cutReps = false, cutRanked = true, cutCand = false)).count())
    time("composed cut reps+ranked")(graft.graph.Superstep.cut(
      composed(cutReps = true, cutRanked = true, cutCand = false)).count())
    time("composed cut ranked only #2")(graft.graph.Superstep.cut(
      composed(cutReps = false, cutRanked = true, cutCand = false)).count())
    time("composed cut reps+ranked #2")(graft.graph.Superstep.cut(
      composed(cutReps = true, cutRanked = true, cutCand = false)).count())
    spark.stop()
  }
}
