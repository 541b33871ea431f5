package graft.queries

import org.scalatest.funsuite.AnyFunSuite

/** v38's rebuild contract: acting on v36's trigger must be
  * RESULT-INVISIBLE (the pre- and post-rebuild searches are row-for-row
  * identical, and both equal v34's deletes-overlay search — the logical
  * index), while the PHYSICAL side really moved: triggered cells' rows
  * were folded into a fresh materialized segment, untriggered cells
  * kept the overlay path, and together they partition the served set. */
class VectorRebuildSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.session
  val d = "/root/testdata/sf0.001"

  test("rebuild is result-invisible and actually folds the triggered cells") {
    val (frame, (nCells, nRebuilt, nOverlay)) = VectorOps.ivfCompactionRebuildAudited(spark, d)
    val out = frame.collect()
    def phase(p: String) = out.filter(_.getString(0) == p)
      .map(r => (r.getLong(1), r.getInt(2), r.getLong(3), r.getDouble(4))).toSeq
    val pre = phase("1_pre_rebuild")
    val post = phase("2_post_rebuild")
    assert(pre.nonEmpty, "search must return rows")
    assert(pre == post, "rebuild must be result-invisible")

    val v34 = graft.SparkEntry.all("v34_ivf_with_deletes").fn(spark, d)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(pre == v34,
      "overlay serving state must equal the deletes-overlay logical index")

    val trig = graft.SparkEntry.all("v36_ivf_compaction_trigger").fn(spark, d)
      .collect()
    assert(nCells == trig.count(_.getInt(5) == 1),
      "rebuilt exactly the cells v36 triggered")
    assert(nCells >= 1 && nCells < trig.length,
      "fixture must exercise BOTH the rebuilt and the overlay path")
    assert(nRebuilt > 0, "triggered cells must fold real rows")
    // the rebuilt segment + remaining overlay partition the served set:
    // every non-tombstoned vector, each exactly once
    val e = graft.tables.Tables.embeddings(spark, d)
    val served = e.count() - e.filter("vec_id % 7 = 0").count()
    assert(nRebuilt + nOverlay == served,
      s"segment ($nRebuilt) + overlay ($nOverlay) must partition the $served served rows")
  }
}
