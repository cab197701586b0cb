package graft.sources

import org.apache.spark.sql.DataFrame

/** The store contract every maintained store and serving index keeps:
  * it names its tables, and it rebuilds itself, with the same scalar
  * parameters, over replacement frames. That is all a publish
  * ([[VersionedStore.write]] of `tables`) and a read-back
  * ([[VersionedStore.read]] by a store's shape) need, so no caller
  * outside a store's own definition knows its layout or restates its
  * build parameters. */
trait Stored[S <: Stored[S]] {
  /** The store's tables, named, in a fixed order. */
  def tables: Seq[(String, DataFrame)]

  /** This store, same scalar parameters, over `frames` in [[tables]]
    * order. */
  def withTables(frames: Seq[DataFrame]): S

  /** This store's table names and scalar parameters with every frame
    * null: what a memo keeps between read-backs, so it pins nothing
    * Spark built. Only [[tables]]' names and [[withTables]] may be
    * used on it. */
  def shape: S = withTables(tables.map(_ => null))
}

object Stored {
  /** A bare frame (a kNN graph, an LM model, the SimHash sketch) as a
    * one-table store. */
  final case class Table(frame: DataFrame) extends Stored[Table] {
    def tables = Seq("table" -> frame)
    def withTables(fs: Seq[DataFrame]) = Table(fs.head)
  }
}
