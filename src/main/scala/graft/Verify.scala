package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare, and
  * verify_status.json: each query's status, wall seconds and first
  * error line. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Queries are independent jobs; run them on a small pool so the
    // cluster (here: local[N]) pipelines scheduling gaps. Spark's
    // scheduler is thread-safe; FAIR mode keeps one long query from
    // starving the rest.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    // name → its verify_status.json entry; the pool's threads write it
    val status = new java.util.concurrent.ConcurrentHashMap[String, String]
    val tasks = SparkEntry.queries.toSeq.map { case (name, fn) =>
      pool.submit(new Runnable {
        override def run(): Unit = {
          val t0 = System.nanoTime()
          val error = try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
            None
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
            Some(e.toString.linesIterator.next())
          }
          val wall = "%.3f".formatLocal(java.util.Locale.ROOT, (System.nanoTime() - t0) / 1e9)
          status.put(name, s"""{"status": "${if (error.isEmpty) "ok" else "failed"}", """ +
            s""""wall_s": $wall, "error": ${error.map(q).getOrElse("null")}}""")
        }
      })
    }
    tasks.foreach(_.get())
    pool.shutdown()
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Files.writeString(Paths.get(s"$outDir/verify_status.json"),
      status.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${q(k)}: $v" }.mkString("{\n", ",\n", "\n}\n"))
    spark.stop()
  }
}
