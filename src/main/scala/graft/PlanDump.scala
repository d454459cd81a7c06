package graft
import org.apache.spark.sql.SparkSession

/** Dumps `.explain("formatted")` for named queries to text files
  * (`<outDir>/<query>_<tag>.txt`, as under `plans/`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <q1,q2,...>
  *
  * Runs in the [[Session]] that Bench and Verify use, so the dumped plans
  * are the plans the bench times. Queries whose construction runs eager
  * sub-jobs (localCheckpoint staging) dump the final fragment's plan: a
  * checkpoint boundary truncates the lineage of the staged chain. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir, tag, qlist) = args
    val spark = Session.fromEnv()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // plan PROBES for shared bodies whose plan sits BEHIND a checkpoint in
    // every declared query's final fragment (a LogicalRDD erases the
    // interesting subtree) — the probe explains the body itself, pre-
    // checkpoint, over the real tables.
    val probes: Map[String, (SparkSession, String) => org.apache.spark.sql.DataFrame] = Map(
      "probe_assign_nearest" -> { (s: SparkSession, dir: String) =>
        import org.apache.spark.sql.functions.col
        val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
        graft.queries.Similarity.assignToNearest(emb,
          graft.queries.Similarity.trainCoarseOn(
            emb.filter(col("vec_id") < 1024), 10))
      })
    for (name <- qlist.split(",").map(_.trim).filter(_.nonEmpty)) {
      val df = probes.getOrElse(name, SparkEntry.queries(name))(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"), txt)
      println(s"[plandump] wrote $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
