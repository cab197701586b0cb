package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables
import graft.tools.Probe

/** The probe's corpus-scaling recipe: `mult` copies of `documents` and
  * `embeddings` with distinct offset ids, copy 0 the source, copy i
  * shifted in exactly one dimension; every other table resolves
  * unscaled. A probe number over a wrongly scaled corpus would measure
  * some other workload without failing. */
class ProbeSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.get
  import spark.implicits._

  private val src = "/root/testdata/sf0.001"
  private val mult = 3
  private lazy val out = Probe.scale(spark, src, mult,
    java.nio.file.Files.createTempDirectory("graft_probe_spec").toString)

  test("scale writes mult offset-id copies; copy i shifts dimension i mod dim by i·1e-4") {
    val srcDocs = Tables.documents(spark, src)
      .as[(Long, String, String, String, Long)].collect()
    val docs = Tables.documents(spark, out)
      .as[(Long, String, String, String, Long)].collect()
    assert(srcDocs.nonEmpty)
    assert(docs.length == mult * srcDocs.length)
    assert(docs.map(_._1).distinct.length == docs.length)
    val docStride = srcDocs.map(_._1).max + 1
    (0 until mult).foreach { i =>
      assert(docs.filter(d => d._1 / docStride == i)
        .map(d => d.copy(_1 = d._1 - i * docStride)).toSet == srcDocs.toSet)
    }

    val srcEmb = Tables.embeddings(spark, src)
      .as[(Long, Seq[Float], Option[Int])].collect()
    val emb = Tables.embeddings(spark, out)
      .as[(Long, Seq[Float], Option[Int])].collect()
    assert(srcEmb.nonEmpty)
    assert(emb.length == mult * srcEmb.length)
    assert(emb.map(_._1).distinct.length == emb.length)
    val stride = srcEmb.map(_._1).max + 1
    val dim = srcEmb.head._2.length
    val byId = emb.map(e => e._1 -> e).toMap
    // copy 0 equals the source
    assert(emb.filter(_._1 < stride).toSet == srcEmb.toSet)
    for (i <- 1 until mult; (id, v, label) <- srcEmb) {
      val (_, w, l) = byId(id + i * stride)
      assert(l == label)
      assert(w == v.updated(i % dim, v(i % dim) + (i * 1e-4).toFloat))
      assert(w(i % dim) != v(i % dim))
    }

    // every other table resolves unscaled
    Seq("orders", "lineitem", "events", "region").foreach { t =>
      assert(Tables.load(spark, out, t).count() ==
        Tables.load(spark, src, t).count())
    }
  }

  test("time over the scaled corpus reports a non-zero row count") {
    val (sec, rows) = Probe.time(spark, out, "wc_wordcount")
    assert(rows > 0L && sec > 0.0)
  }

  test("a non-positive mult and an unknown query name are rejected") {
    Seq("0", "-2", "x", "").foreach { a =>
      assert(intercept[IllegalArgumentException](Probe.parseMult(a))
        .getMessage.contains("positive integer"))
    }
    assert(Probe.parseMult("3") == 3)
    assert(intercept[IllegalArgumentException](
      Probe.queryNames("wc_wordcount,no_such_row"))
      .getMessage.contains("no_such_row"))
    assert(Probe.queryNames("wc_wordcount,dd_clusters") ==
      Seq("wc_wordcount", "dd_clusters"))
  }
}
