package graft.unified

import graft.Tables
import graft.unified.EntityStore.EntityRow
import graft.vector.AnnIndex
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runnable example of the writable unified store + MLlib ANN index:
  *   sbt 'Test/runMain graft.unified.StoreDemo'
  */
object StoreDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local("4")
    spark.sparkContext.setLogLevel("ERROR")

    val st = new EntityStore(spark, java.nio.file.Files.createTempDirectory("graft-demo").toString)
    st.put(Seq(
      EntityRow("user:alice", Map("team" -> "ml"), Some(Array(1f, 0f, 0.5f))),
      EntityRow("user:bob", Map("team" -> "infra"), Some(Array(0.9f, 0.1f, 0.4f))),
      EntityRow("user:carol", Map("team" -> "ml"), Some(Array(-1f, 1f, 0f)))))
    st.connect("user:alice", "user:bob", "knows")
    st.connect("user:alice", "user:carol", "knows")
    println("LIVE ENTITIES:")
    st.entities.select("key").orderBy("key").show(truncate = false)
    println("SIMILAR 'user:bob' CONNECTED TO 'user:alice':")
    st.similarConnectedTo("user:bob", "user:alice", 2).show(truncate = false)
    st.put(Seq(EntityRow("user:alice", Map("team" -> "platform"), None)))
    println("AFTER UPDATE, alice.team = " +
      st.entities.filter("key='user:alice'").collect()(0)
        .getAs[Map[String, String]]("props")("team"))
    st.delete(Seq("user:carol"))
    println("AFTER DELETE, count = " + st.entities.count())

    val emb = Tables(spark, "/root/testdata/sf0.001", "embeddings")
    val idx = AnnIndex.buildIvf(emb, 8)
    println("IVF cell occupancy:")
    idx.assigned.groupBy("cell").count().orderBy("cell").show()
    val q = emb.filter(col("vec_id") === 0).select("embedding").collect()(0).getSeq[Float](0).toArray
    println("IVF top-5 (nprobe=3) for vec 0:")
    AnnIndex.searchIvf(idx, 0L, q, 5, 3).show()
    spark.stop()
  }
}
