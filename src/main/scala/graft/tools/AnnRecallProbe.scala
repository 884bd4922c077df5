package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.Similarity

/** Measures recall@5 of the LSH and IVF indexes against brute force on the
  * driver's embeddings tables, across the parameter grid — the evidence
  * behind the parameters chosen for the oracled `q_ann_recall` gate.
  */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
    else Seq("/root/testdata/sf0.01", "/root/testdata/sf0.1")
    implicit val spark: SparkSession = LocalSession.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    for (dir <- dirs) {
      val emb = spark.read.parquet(s"$dir/embeddings.parquet")
      val truth = Similarity.bruteForceTopK(emb, col("vec_id") < 10, 5)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
      def recall(approx: Set[(Long, Long)]): Double =
        truth.intersect(approx).size.toDouble / truth.size
      for (nProbe <- Seq(4, 6, 8, 12, 16)) {
        val ivf = Similarity.ivfTopK(emb, col("vec_id") < 10, 5, nCentroids = 16, nProbe = nProbe)
          .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
        println(f"$dir ivf nProbe=$nProbe%2d recall=${recall(ivf)}%.3f")
      }
      for ((planes, tables) <- Seq((8, 1), (4, 4), (3, 6), (3, 8), (4, 8))) {
        val lsh = Similarity
          .lshTopK(emb, col("vec_id") < 10, 5, planes = planes, nTables = tables)
          .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("neighbor_id"))).toSet
        println(f"$dir lsh planes=$planes%2d tables=$tables%2d recall=${recall(lsh)}%.3f")
      }
    }
    spark.stop()
  }
}
