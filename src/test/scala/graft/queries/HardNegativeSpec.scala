package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** v42's band contract on a planted geometry: a near-identical vector
  * trips the dup gate (excluded AND counted), band members mine in
  * cos-descending order with their label flags, and a barely-similar
  * vector falls below the floor. Cell routing is exercised for real:
  * the planted centroids force the anchor's probe cells to {own, 1}
  * and the interesting candidates all live in the anchor's own cell. */
class HardNegativeSpec extends AnyFunSuite with graft.TempDirs {
  lazy val spark = graft.TestSpark.session

  test("v42: dup-gate excludes, floor excludes, band mines in cos order with census") {
    import spark.implicits._
    val dir = tempDir("graft_hn")
      .toFile.getAbsolutePath
    def vec(x: Double, y: Double) = Array(x.toFloat, y.toFloat)
    // anchor 0 = (1,0); centroids 1..15 share a far direction (0,-1) so
    // every non-anchor candidate below assigns to the ANCHOR's cell;
    // candidates: 16 ~cos 1 (dup), 17 cos .5 (band, same label),
    // 18 cos .3 (band, other label), 19 cos .05 (below floor)
    val rows = Seq((0L, vec(1, 0), 7)) ++
      (1L to 15L).map(i => (i, vec(0, -1), 0)) ++ Seq(
        (16L, vec(0.9999, 0.0141), 7),
        (17L, vec(0.5, 0.8660254), 7),
        (18L, vec(0.3, 0.9539392), 8),
        (19L, vec(0.05, 0.9987492), 0))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val all = VectorOps.hardNegativeMining(spark, dir).collect()
    // anchors 1..9 see only their identical-direction cellmates (cos 1,
    // dup-gated) — anchor 0's two band rows are the whole output
    assert(all.forall(_.getLong(0) == 0L), all.mkString(", "))
    assert(all.length == 2, all.mkString(", "))
    val Array(r1, r2) = all.sortBy(_.getLong(1))
    assert(r1.getLong(2) == 17L && math.abs(r1.getDouble(3) - 0.5) < 1e-4 &&
      r1.getLong(4) == 1L, r1.toString)
    assert(r2.getLong(2) == 18L && math.abs(r2.getDouble(3) - 0.3) < 1e-4 &&
      r2.getLong(4) == 0L, r2.toString)
    // census rides every row: two in band, ONE dup-excluded (vector 16)
    assert(r1.getLong(5) == 2L && r1.getLong(6) == 1L, r1.toString)
  }
}
