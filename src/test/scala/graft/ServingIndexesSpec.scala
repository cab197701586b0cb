package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.registry.ServingIndexes
import graft.sources.Stored

/** The `*_served` bindings memoize built stores per corpus dir; the
  * memo must not outlive the DATA — regenerating a corpus dir within a
  * session has to invalidate it (advisor finding, round 9). */
class ServingIndexesSpec extends AnyFunSuite {
  import ServingIndexesSpec._

  lazy val spark: SparkSession = SparkTestSession.get

  /** Each table's parquet files, in table order. */
  private def files(st: Pair): Seq[Seq[String]] =
    st.tables.map(_._2.inputFiles.toSeq.sorted)

  test("once(): memoizes per content fingerprint, rebuilds on regenerated data") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_si").toString
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "data.txt"), "generation-1".getBytes)
    var builds = 0
    def build(): Pair = {
      builds += 1
      Pair(Seq((1L, "a")).toDF("id", "v"), Seq(2.5).toDF("w"), 7L)
    }
    val st1 = ServingIndexes.once(spark, "spec_fp", dir)(build())
    val st2 = ServingIndexes.once(spark, "spec_fp", dir)(build())
    assert(builds == 1, "unchanged dir must serve the memoized index")
    assert(files(st1) == files(st2) && st1.p == 7L && st2.p == 7L)
    assert(st2.a.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
    assert(st2.b.as[Double].collect().toSeq == Seq(2.5))
    // regenerate the data under the SAME dir (different size, so the
    // fingerprint moves even on coarse-mtime filesystems)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "data.txt"),
      "generation-2, regenerated".getBytes)
    val st3 = ServingIndexes.once(spark, "spec_fp", dir)(build())
    assert(builds == 2, "regenerated dir must trigger a fresh build")
    assert(files(st3).flatten.toSet.intersect(files(st1).flatten.toSet).isEmpty,
      "fresh build must land in fresh dirs")
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}

object ServingIndexesSpec {
  /** A two-table store with one scalar parameter. */
  final case class Pair(a: DataFrame, b: DataFrame, p: Long) extends Stored[Pair] {
    def tables: Seq[(String, DataFrame)] = Seq("a" -> a, "b" -> b)
    def withTables(fs: Seq[DataFrame]): Pair = copy(a = fs(0), b = fs(1))
  }
}
