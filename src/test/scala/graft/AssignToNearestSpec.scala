package graft

import graft.queries.Similarity

/** Preconditions of the nearest-centroid assignment. */
class AssignToNearestSpec extends SparkSpec {

  test("an empty centroid relation fails loudly instead of yielding NULL clusters") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val cents = Seq.empty[(Long, Seq[Double])].toDF("cluster", "cemb")
    for (ex <- Seq(true, false)) {
      val e = intercept[Exception](Similarity.assignToNearest(emb, cents, ex).collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")), msgs.mkString("\n"))
    }
  }
}
