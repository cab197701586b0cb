package graft.registry

import org.apache.spark.sql.SparkSession

import graft.sources.{Stored, VersionedStore}

/** Memoized per-(kind, corpus-dir) store materialization for the
  * `*_served`, `*_delta` and `*_retract` bindings.
  *
  * The serving-path operators (`searchIndexed`, `knnLshIndexed`,
  * `knnIvfIndexed`, `knnPqIndexed`) exist so REPEATED queries skip the
  * corpus scan/encode their build-path siblings pay per call, and a
  * delta or retract pass presupposes a store that already exists.
  * Grading either needs rows that time the QUERY against a prebuilt
  * store — so these bindings build it exactly once per corpus
  * directory (the bench's warm-up pass pays it, outside the timed
  * passes; Verify pays it once before the output write) and every
  * subsequent call reads it back.
  *
  * Every store takes one path, through its [[Stored]] contract: the
  * build publishes `store.tables` through [[VersionedStore.write]]
  * into one temp store dir, the memo keeps that dir and the store's
  * frameless shape, and each call reads the version back through the
  * calling session ([[VersionedStore.read]]: the schemas recorded at
  * build time, no Spark job) as the same store type with the build's
  * parameters. A deployment would write the tables as managed
  * BUCKETED tables on their join/filter key instead
  * ([[graft.sources.VersionedCatalogStore]]; StoreRoundTripSpec
  * proves that round trip plan-exact) and pass the read-back store to
  * the same operators.
  */
object ServingIndexes {

  private val built =
    scala.collection.concurrent.TrieMap.empty[String, (String, Stored[_])]

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

  /** Build-once: the store `build` returns, published under a temp
    * store dir (registered for deletion at JVM exit) on the first call
    * and read back through `spark` on every call. Keyed by (kind,
    * corpus dir, corpus fingerprint) so sf0.01 and sf0.1 don't collide
    * AND a corpus regenerated in-session gets a fresh build rather
    * than a stale index. The coarse lock makes the build EXACTLY-once
    * under concurrent first calls — TrieMap's getOrElseUpdate alone
    * can run the thunk twice and leak the loser's directories; index
    * builds are rare and heavyweight, so serializing them costs
    * nothing. */
  def once[S <: Stored[S]](spark: SparkSession, kind: String, dir: String)
                          (build: => S): S = {
    val (storeDir, shape) = built.synchronized {
      built.getOrElseUpdate(s"$kind@$dir@${fingerprint(dir)}", {
        val store = build
        val storeDir = graft.sources.Sinks.TempDirs.create(s"graft_idx_$kind")
        // bound the file count: the builder frames arrive at the
        // session's shuffle parallelism (32 map-sized files), and a
        // served read pays footer+open per file per QUERY — the wrong
        // side of the build-once/read-many trade. 8 files keeps the
        // read parallel on the test box while cutting per-query open
        // overhead 4x; a deployment sizes this by index bytes
        // (writeBucketed's bucket count).
        VersionedStore.write(storeDir,
          store.tables.map { case (name, df) => name -> df.coalesce(8) })
        (storeDir, store.shape)
      })
    }
    VersionedStore.read(spark, storeDir, shape.asInstanceOf[S]).getOrElse(
      sys.error(s"no live $kind store under $storeDir"))
  }
}
