package graft.queries

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Semantic lock on v20's farthest-first traversal: with five orthogonal
  * direction clusters (two co-linear members each), the greedy argmin of
  * max-cosine-to-chosen must visit all five DIRECTIONS before ever
  * picking a second member of a covered one — the spread property that
  * makes k-center seeding beat take-first-k — and ties must break by
  * vec_id deterministically.
  */
class KcenterSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark: SparkSession = graft.TestSpark.session

  test("farthest-first covers each orthogonal cluster once, ties by vec_id") {
    import spark.implicits._
    val d = tempDir("graft_kc")
      .toFile.getAbsolutePath
    // vec 2j and 2j+1 both point along axis j (the +1 twin scaled, same
    // direction → cosine 1 to its sibling, 0 to every other axis)
    val rows = (0 until 5).flatMap { j =>
      def axis(scale: Float) =
        (0 until 5).map(k => if (k == j) scale else 0f).toArray
      Seq((2L * j, axis(1f)), (2L * j + 1, axis(2f)))
    }
    rows.map { case (id, v) => (id, (id % 5).toString, v) }
      .toDF("vec_id", "label", "embedding")
      .write.mode("overwrite").parquet(s"$d/embeddings.parquet")

    val out = VectorOps.kcenterSeeds(spark, d).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(_._2).toSeq == Seq(0L, 2L, 4L, 6L, 8L),
      s"must pick the lowest-id member of each uncovered axis in turn: ${out.toSeq}")
    // seed 1 carries the -1 sentinel; later seeds were all fully
    // uncovered (cos 0 to every chosen axis) at selection time
    assert(out.head._3 == -1.0 && out.tail.forall(_._3 == 0.0), out.toSeq.toString)
  }
}
