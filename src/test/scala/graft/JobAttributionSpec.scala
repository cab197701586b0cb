package graft

import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

/** Jobs an operator submits from its helper thread carry the caller's
  * Spark local properties, so a job group, scheduler pool or span tag
  * set by the caller covers every job of the call. */
class JobAttributionSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get

  test("semantic-best ingest and retract jobs all carry the caller's local property") {
    val sc = spark.sparkContext
    val key = "graft.spec.caller"
    val emb = graft.sources.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val (tau, k) = (0.35, 5)
    val delta = emb.filter(col("vec_id") % 3 === 0)
    val store = Dedup.semanticBestStore(emb.filter(col("vec_id") % 3 =!= 0), tau, k)
    // two calls under different values: a helper thread that outlives
    // one call would carry the first value into the second
    for (caller <- Seq("first", "second")) {
      sc.setLocalProperty(key, caller)
      try {
        val (_, jobs) = Jobs.during(sc) {
          Dedup.semanticKeepersBestDelta(store, delta, tau, k).assignment.collect()
          Dedup.semanticBestRetract(store, delta.select("vec_id"), tau, k)
            .assignment.collect()
        }
        assert(jobs.nonEmpty)
        val tags = jobs.map(p => Option(p.getProperty(key)))
        assert(tags.forall(_.contains(caller)),
          s"${tags.count(!_.contains(caller))} of ${jobs.size} jobs lost '$caller': $tags")
      } finally sc.setLocalProperty(key, null)
    }
  }
}
