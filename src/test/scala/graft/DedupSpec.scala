package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions._

/** Dedup family (`graft.ext.Dedup`): record linkage on dirty input. */
class DedupSpec extends SparkSpecBase {

  test("recordLinkage emits no self-pair when a block repeats an id") {
    // ids 1 and 3 each appear twice in their block, with the same and with
    // different names: neither copy may pair with the other
    val recs = spark.createDataFrame(Seq(
      (1L, "alpha beta gamma", "k1"),
      (1L, "alpha beta gamma", "k1"),
      (2L, "alpha beta gamma", "k1"),
      (3L, "delta epsilon", "k2"),
      (3L, "delta epsilon zeta", "k2"),
      (4L, "delta epsilon", "k2")
    )).toDF("rid", "name", "blk")
    val pairs = Dedup.recordLinkage(recs, "rid", Seq("blk"),
      Seq("name" -> 1.0), Seq.empty, 0.5)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.forall { case (a, b) => a != b }, pairs.toSeq)
    assert(pairs.toSet == Set((1L, 2L), (3L, 4L)))
  }
}
