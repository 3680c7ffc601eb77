package graft

import graft.ext.Similarity
import org.apache.spark.sql.functions._

/** Similarity family (`graft.ext.Similarity`): the IVF coarse quantizer. */
class SimilaritySpec extends SparkSpecBase {

  import spark.implicits._

  test("an nlist == 1 IVF model assigns cell 0 to vectors of any dimension") {
    val vecs = Seq(
      (1L, Seq.empty[Double]),
      (2L, Seq(3.0)),
      (3L, Seq(-1.0, 2.0, 5.0)),
      (4L, Seq.tabulate(64)(i => i * 0.5 - 7.0))
    ).toDF("vec_id", "embedding")
    val model = Similarity.fitIvf(vecs, nlist = 1)
    assert(model.nlist == 1)
    val cells = Similarity.assignCells(vecs, model).orderBy("vec_id")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toSeq
    assert(cells == Seq(1L -> 0, 2L -> 0, 3L -> 0, 4L -> 0))
    assert(Similarity.ivfIndex(vecs, model).where(col("cell") =!= 0)
      .isEmpty)
  }
}
