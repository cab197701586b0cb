package graft.registry

import org.apache.spark.sql.DataFrame

/** Memoized per-(kind, corpus-dir) index materialization for the
  * `*_served` bindings.
  *
  * The serving-path operators (`searchIndexed`, `knnLshIndexed`,
  * `knnIvfIndexed`, `knnPqIndexed`) exist so REPEATED queries skip the
  * corpus scan/encode their build-path siblings pay per call. Grading
  * that claim needs bench rows that time the QUERY against a prebuilt
  * index — so these bindings build the index exactly once per corpus
  * directory (the bench's warm-up pass pays it, outside the timed
  * passes; Verify pays it once before the output write) and every
  * subsequent call reads the persisted parquet back through
  * [[graft.sources.StoredTable.read]], with the schema recorded at
  * build time (no schema-inference job per query).
  *
  * The indexes land in fresh temp directories — the harness binding.
  * A deployment would write them as managed BUCKETED tables on their
  * join/filter key instead ([[graft.sources.Sinks.writeBucketed]];
  * StoreRoundTripSpec proves that round trip plan-exact) and pass the
  * read-back frames to the same operators.
  */
object ServingIndexes {

  private val built =
    scala.collection.concurrent.TrieMap.empty[String, (Seq[String], Long)]

  /** Cheap content fingerprint of a corpus directory: a hash over the
    * sorted (relative path, size, mtime) of every regular file under
    * it. Listing a corpus dir is tens of entries — microseconds next
    * to an index build — and it means regenerating the data under a
    * dir WITHIN a session invalidates the memo instead of silently
    * serving a stale index (the superseded entry's temp dirs are
    * reclaimed at JVM exit like every TempDirs path). */
  private def fingerprint(dir: String): String = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(root)) return "absent"
    val stream = java.nio.file.Files.walk(root)
    try {
      val acc = scala.collection.mutable.ArrayBuffer.empty[String]
      stream.iterator().forEachRemaining { p =>
        if (java.nio.file.Files.isRegularFile(p))
          acc += s"${root.relativize(p)}|${java.nio.file.Files.size(p)}|" +
            s"${java.nio.file.Files.getLastModifiedTime(p).toMillis}"
      }
      scala.util.hashing.MurmurHash3.orderedHash(acc.sorted).toHexString
    } finally stream.close()
  }

  /** Build-once: materialize each frame of `build` as parquet under
    * its own temp dir (registered for deletion at JVM exit); returns
    * the paths plus one long payload (e.g. the corpus doc count
    * captured at build time). Keyed by (kind, corpus dir, corpus
    * fingerprint) so sf0.01 and sf0.1 don't collide AND a corpus
    * regenerated in-session gets a fresh build rather than a stale
    * index. The coarse lock makes the build
    * EXACTLY-once under concurrent first calls — TrieMap's
    * getOrElseUpdate alone can run the thunk twice and leak the
    * loser's directories; index builds are rare and heavyweight, so
    * serializing them costs nothing. */
  def once(kind: String, dir: String)
          (build: => (Seq[DataFrame], Long)): (Seq[String], Long) =
    built.synchronized {
      built.getOrElseUpdate(s"$kind@$dir@${fingerprint(dir)}", {
        val (frames, payload) = build
        val paths = frames.zipWithIndex.map { case (df, i) =>
          val path = graft.sources.Sinks.TempDirs.create(s"graft_idx_${kind}_$i")
          // bound the file count: the builder frames arrive at the
          // session's shuffle parallelism (32 map-sized files), and a
          // served read pays footer+open per file per QUERY — the
          // wrong side of the build-once/read-many trade. 8 files
          // keeps the read parallel on the test box while cutting
          // per-query open overhead 4x; a deployment sizes this by
          // index bytes (writeBucketed's bucket count).
          graft.sources.StoredTable.write(df.coalesce(8), path)
          path
        }
        (paths, payload)
      })
    }
}
