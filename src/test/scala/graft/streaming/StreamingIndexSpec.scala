package graft.streaming

import graft.SparkTestBase
import graft.operators.Ivf
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming index maintenance: a stream of new vectors drains into the
  * persisted cell-partitioned IVF index via foreachBatch →
  * Ivf.upsertIndex (append to touched cell directories only), and a
  * subsequent serve sees the streamed rows — the continuous-ingest
  * composition a production vector store runs (the reference's upsert
  * batches, `/root/reference/Hybrid_Recom_vecdb.py:159-170`, done as a
  * stream). */
class StreamingIndexSpec extends SparkTestBase {

  test("foreachBatch upserts stream into the persisted index; serve sees them") {
    val s = spark
    import s.implicits._
    implicit val sqlCtx = s.sqlContext

    val base = graft.sources.Tables.embeddings(spark, sf())
      .select("vec_id", "embedding")
    val model = Ivf.fit(base, 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-stream-ivf").toString
    try {
      val path = s"$dir/index"
      Ivf.writeIndex(Ivf.assign(model, base), path)

      val mem = MemoryStream[(Long, Array[Float])]
      val q = mem.toDF().toDF("vec_id", "embedding")
        .writeStream
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          Ivf.upsertIndex(model, batch, path)
        }
        .start()
      try {
        // two micro-batches of brand-new vectors (ids far outside the base)
        val v1 = Array.tabulate(64)(i => if (i == 7) 1.0f else 0.01f)
        val v2 = Array.tabulate(64)(i => if (i == 21) -1.0f else 0.02f)
        mem.addData((900001L, v1))
        q.processAllAvailable()
        mem.addData((900002L, v2))
        q.processAllAvailable()

        val queries = Seq((1L, v1.toSeq), (2L, v2.toSeq))
          .toDF("query_id", "q_emb")
        // nProbe = all cells -> exact; the streamed vector must be its own
        // top hit (sim ~ 1) with self-match allowed
        val top = Ivf.topKPersisted(spark, path, model, queries, 1, 4,
          excludeSelf = false)
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(top(1L) == 900001L && top(2L) == 900002L)
      } finally q.stop()
    } finally deleteTrees(Seq(dir))
  }
}
