package graft

import graft.queries.Similarity

/** Preconditions of the nearest-centroid assignment. */
class AssignToNearestSpec extends SparkSpec {

  test("an empty centroid relation fails loudly instead of yielding NULL clusters") {
    import spark.implicits._
    val emb = Seq((1L, Seq(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val cents = Seq.empty[(Long, Seq[Double])].toDF("cluster", "cemb")
    // the p = 1 assignment and a p = 2 route both fail
    for (routed <- Seq(Similarity.assignToNearest(emb, cents),
                       Similarity.routeNearest(emb, emb("embedding"), cents, 2,
                         Similarity.sqDist))) {
      val e = intercept[Exception](routed.collect())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
      assert(msgs.exists(_.contains("INVALID_ARRAY_INDEX_IN_ELEMENT_AT")), msgs.mkString("\n"))
    }
  }
}
