package graft

import java.nio.file.Files

import org.apache.spark.graftspec.Jobs
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Multimodal, Similarity}
import graft.registry.{ServingIndexes, TextAnalysisRegistry}
import graft.sources.{Stored, StoredTable, Tables, VersionedStore}

/** Reads with declared schemas: source tables carry a declared schema,
  * tables graft writes carry a recorded one, and neither read submits
  * a schema-inference job. Each declared or recorded schema must equal
  * the one Spark would infer from the same files. */
class DeclaredSchemaSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val sfs = Seq("0.001", "0.01", "0.1").map(sf => s"/root/testdata/sf$sf")
  private val d = sfs.head

  /** The store of `kind` its registry row has built, read back. */
  private def built[S <: Stored[S]](row: String, kind: String): S = {
    SparkEntry.queries(row)(spark, d)
    ServingIndexes.once[S](spark, kind, d)(fail(s"$row did not build index $kind"))
  }

  /** Every memoized store, each built by a registry row that reads it. */
  private def indexes: Seq[(String, Stored[_])] = Seq(
    "semstore" -> built[Dedup.SemanticStore]("dd_semantic_delta", "semstore"),
    "sembest" -> built[Dedup.SemanticBestStore]("dd_semantic_best_delta", "sembest"),
    "exactstore" -> built[Dedup.ExactStore]("dd_exact_retract", "exactstore"),
    "sembestfull" ->
      built[Dedup.SemanticBestStore]("dd_semantic_retract", "sembestfull"),
    "postings" -> built[TextAnalysisRegistry.Postings]("ta_search_served", "postings"),
    "lm" -> built[Stored.Table]("ta_lm_score_served", "lm"),
    "lsh" -> built[Dedup.EmbeddingLshStore]("knn_lsh_served", "lsh"),
    "ivf" -> built[Similarity.IvfIndex]("knn_ivf_served", "ivf"),
    "knngraph" -> built[Stored.Table]("knn_graph_served", "knngraph"),
    "ivf_trained" -> built[Similarity.IvfIndex]("knn_ivf_trained_served", "ivf_trained"),
    "ivf_labeled" -> built[Similarity.IvfIndex]("knn_ivf_filtered_served", "ivf_labeled"),
    "ivfpq" -> built[Similarity.IvfPqIndex]("knn_ivfpq_served", "ivfpq"),
    "pq" -> built[Similarity.PqIndex]("knn_pq_served", "pq"),
    "mmframes" ->
      built[Multimodal.PayloadNearDupStore]("mm_payload_neardup_delta", "mmframes"))

  /** The directory each of a read-back store's tables scans. */
  private def tablePaths(st: Stored[_]): Seq[String] = st.tables.map { case (_, df) =>
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.rootPaths.head.toString
    }.get
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
    for ((kind, st) <- indexes; p <- tablePaths(st))
      assert(StoredTable.schema(spark, p) == spark.read.parquet(p).schema, s"$kind: $p")
  }

  test("recorded schema == inferred schema for every store-version table") {
    val emb = Tables.embeddings(spark, d)
    val docs = Tables.documents(spark, d)
    val best = Dedup.semanticBestStore(emb, registry.DedupRegistry.CosineTau,
      registry.SimilarityRegistry.K)
    val sem = Dedup.semanticStore(emb, registry.DedupRegistry.CosineTau)
    val exact = Dedup.exactStore(docs)
    val dir = Files.createTempDirectory("graft_recorded").toString
    val paths = VersionedStore.write(dir, best.tables ++
      sem.tables.map { case (n, df) => s"sem_$n" -> df } ++ exact.tables)
    for (p <- paths)
      assert(StoredTable.schema(spark, p) == spark.read.parquet(p).schema, p)
  }

  test("VersionedStore.read and a serving-index read-back submit no Spark job") {
    val dir = Files.createTempDirectory("graft_read_jobs").toString
    VersionedStore.write(dir, Seq("a" -> Seq((1L, "x")).toDF("id", "v"),
      "b" -> Seq(2.5).toDF("w")))
    built[Similarity.IvfIndex]("knn_ivf_served", "ivf")
    val (frames, jobs) = Jobs.during(spark.sparkContext) {
      (VersionedStore.read(spark, dir, Seq("a", "b")).get,
        ServingIndexes.once[Similarity.IvfIndex](spark, "ivf", d)(fail("no ivf index")))
    }
    assert(jobs.isEmpty)
    // the reads are still real scans of the files
    assert(frames._1.head.as[(Long, String)].collect().toSeq == Seq((1L, "x")))
    assert(frames._2.assigned.count() > 0 && frames._2.centroids.count() > 0)
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
