package graft

import java.nio.file.Files

import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.registry.ServingIndexes
import graft.sources.{StoredTable, Tables, VersionedStore}

/** Reads with declared schemas: source tables carry a declared schema,
  * tables graft writes carry a recorded one, and neither read submits
  * a schema-inference job. Each declared or recorded schema must equal
  * the one Spark would infer from the same files. */
class DeclaredSchemaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val sfs = Seq("0.001", "0.01", "0.1").map(sf => s"/root/testdata/sf$sf")
  private val d = sfs.head

  /** Registry rows and the serving-index kind each one builds. */
  private val indexRows = Seq(
    "dd_semantic_delta" -> "semstore", "dd_semantic_best_delta" -> "sembest",
    "dd_exact_retract" -> "exactstore", "dd_semantic_retract" -> "sembestfull",
    "ta_search_served" -> "postings", "ta_lm_score_served" -> "lm",
    "knn_lsh_served" -> "lsh", "knn_ivf_served" -> "ivf",
    "knn_graph_served" -> "knngraph", "knn_ivf_trained_served" -> "ivf_trained",
    "knn_ivf_filtered_served" -> "ivf_labeled", "knn_ivfpq_served" -> "ivfpq",
    "knn_pq_served" -> "pq", "mm_payload_neardup_delta" -> "mmframes")

  /** The paths of a serving index its registry row has built. */
  private def indexPaths(row: String, kind: String): Seq[String] = {
    SparkEntry.queries(row)(spark, d)
    ServingIndexes.once(kind, d)(fail(s"$row did not build index $kind"))._1
  }

  private def jobsDuring[T](body: => T): Int =
    Jobs.during(spark.sparkContext)(body)._2.size

  test("declared schema == inferred schema for every table at every SF") {
    for (dir <- sfs; t <- Tables.All) {
      val inferred = spark.read.parquet(s"$dir/$t.parquet").schema
      assert(Tables.Schemas(t) == inferred, s"$t at $dir")
    }
    assert(Tables.events(spark, d).schema("ts").dataType == TimestampType)
  }

  test("Tables.load submits no Spark job") {
    val n = jobsDuring {
      Tables.All.foreach(Tables.load(spark, d, _))
      Tables.events(spark, d)
    }
    assert(n == 0)
  }

  test("recorded schema == inferred schema for every serving-index table") {
    for ((row, kind) <- indexRows; p <- indexPaths(row, kind))
      assert(StoredTable.schema(spark, p) == spark.read.parquet(p).schema, s"$kind: $p")
  }

  test("recorded schema == inferred schema for every store-version table") {
    val emb = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    val best = operators.Dedup.semanticBestStore(emb, registry.DedupRegistry.CosineTau,
      registry.SimilarityRegistry.K)
    val sem = operators.Dedup.semanticStore(emb, registry.DedupRegistry.CosineTau)
    val exact = operators.Dedup.exactStore(docs)
    val dir = Files.createTempDirectory("graft_recorded").toString
    val paths = VersionedStore.write(dir, Seq(
      "bits" -> best.bits, "graph" -> best.graph, "assignment" -> best.assignment,
      "pairs" -> best.pairs, "sem_assignment" -> sem.assignment,
      "lsh" -> sem.lsh.bucketed, "keepers" -> exact.keepers,
      "members" -> exact.members))
    for (p <- paths)
      assert(StoredTable.schema(spark, p) == spark.read.parquet(p).schema, p)
  }

  test("VersionedStore.read and a serving-index read-back submit no Spark job") {
    val dir = Files.createTempDirectory("graft_read_jobs").toString
    VersionedStore.write(dir, Seq("a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq(2.5).toDF("w")))
    val ivf = indexPaths("knn_ivf_served", "ivf")
    val (frames, jobs) = Jobs.during(spark.sparkContext) {
      (VersionedStore.read(spark, dir, Seq("a", "b")).get,
        ivf.map(StoredTable.read(spark, _)))
    }
    assert(jobs.isEmpty)
    // the read is still a real scan of the files
    assert(frames._1.head.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    assert(frames._2.head.count() > 0)
  }

  test("a store or index table without its schema record fails loudly") {
    val dir = Files.createTempDirectory("graft_no_record").toString
    // a version written around VersionedStore.write: resolvable, unreadable
    Seq(1L).toDF("id").write.parquet(s"$dir/v00001/a")
    Files.writeString(java.nio.file.Paths.get(dir, "CURRENT"), "v00001")
    assert(VersionedStore.resolve(dir, Seq("a")).nonEmpty)
    val e = intercept[IllegalStateException](VersionedStore.read(spark, dir, Seq("a")))
    assert(e.getMessage.contains(s"$dir/v00001/a"))
    // an index directory whose record is gone
    val idx = Files.createTempDirectory("graft_idx_no_record").toString
    StoredTable.write(Seq(1L).toDF("id"), idx)
    Files.delete(java.nio.file.Paths.get(idx, StoredTable.SchemaFile))
    val e2 = intercept[IllegalStateException](StoredTable.read(spark, idx))
    assert(e2.getMessage.contains(idx) && e2.getMessage.contains(StoredTable.SchemaFile))
  }
}
